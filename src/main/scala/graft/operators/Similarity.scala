package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact top-k by cosine — the correctness
  *    baseline. The query side is broadcast, so the big side streams
  *    through one codegen'd stage with no shuffle of the corpus; the
  *    per-query top-k heap is a window over (tiny) per-query groups.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — the scale path.
  *    The corpus is grouped into 2^planes sign-pattern buckets, and each
  *    query probes only its own bucket: the crossJoin disappears in
  *    favor of a bucket equi-join (shuffle keyed on bucket, AQE-skew
  *    safe). Plane matrices are deterministic compile-time constants so
  *    results are reproducible and oracle-checkable.
  */
object Similarity {

  /** Sequential-order double dot product (bit-reproducible across
    * engines that fold left-to-right): the native kernel expression —
    * same summation order as the `aggregate(zip_with(...))` higher-order
    * formulation it replaced and as DuckDB's `list_inner_product`, so
    * oracle hashes are unchanged, but the per-pair cost is a JIT'd
    * primitive loop instead of an interpreted Column-tree fold. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeMath.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Johnson–Lindenstrauss SIGN random projection: compress dim-`dim`
    * embeddings to `outDim` coordinates y_j = ⟨x, r_j⟩ / √outDim with
    * r_j ∈ {±1}^dim — the cheap pre-ANN/pre-clustering compression
    * pass a 100 TB embedding corpus runs before its expensive pairwise
    * stages (Achlioptas 2003: ±1 entries satisfy the JL distance-
    * preservation lemma with the same distortion bounds as Gaussian
    * matrices, at integer-multiply cost). Spark-first shape: ONE
    * codegen'd scan — each coordinate is the native [[dot]] kernel
    * against a LITERAL sign column, no shuffle, no UDF, no RNG (the
    * matrix derives from the repo md5-hash60 of "seed:i:j", so the
    * kept values are a pure function of the data and the oracle
    * replays the identical matrix; the kernel's left-to-right double
    * fold matches DuckDB's list_inner_product — the q_ann_topk
    * discipline). Choose a perfect-square `outDim` when gate-exact
    * replay matters (√outDim is then IEEE-exact on both engines).
    * Output: (idCol, j, v) exploded coordinates, v rounded to 6. */
  def randomProject(vecs: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int, seed: String): DataFrame =
    randomProjectVec(vecs, idCol, embCol, dim, outDim, seed)
      .select(col(idCol), posexplode(col("proj")).as(Seq("j", "v")))
      .select(col(idCol), col("j").cast("long").as("j"), col("v"))

  /** Per-query rank step shared by every top-k variant: row_number
    * semantics over (sim desc, nid) — executed on the custom heap
    * operator ([[graft.plans.TopKPerGroup]]), so each probe's
    * candidate list costs k buffered rows instead of a full
    * in-partition sort of the (probe × candidates) product. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup.topKSorted(scored, Seq("qid"),
        Seq("sim" -> false, "nid" -> true), k, rankName = "rank")
      .select(col("qid"), col("nid"), col("rank"))

  /** Exact top-k neighbors for each query vector. Output:
    * (qid, neighbor, rank). Scores are intentionally not emitted —
    * ranks are stable across float ulp differences, raw floats are not. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms hoisted to each side: the interpreted HOF fold would
    // otherwise recompute them once per (corpus × query) pair
    val c = corpus.toDF("nid", "e").withColumn("ne", norm(col("e")))
    val q = queries.toDF("qid", "q").withColumn("nq", norm(col("q")))
    val joined = c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("q"), col("e")) / (col("nq") * col("ne"))).as("sim"))
    rankTopK(joined, k)
  }

  /** HARD-NEGATIVE mining — the contrastive-training curation step
    * (the in-batch-negatives supplement of DPR, Karpukhin et al.
    * EMNLP 2020 §3.2; standard in embedding-model data pipelines):
    * for each anchor, the top-k most-SIMILAR corpus vectors carrying a
    * DIFFERENT label — "looks like the anchor, isn't" — excluding
    * near-identical vectors (sim ≥ `dupCos`, the false-negative
    * guard: an off-label near-copy is far more likely a labeling
    * error or un-caught duplicate than a useful negative, and
    * training against it teaches the model to separate copies).
    *
    * Inputs are (id, embedding, label) on both sides. Output
    * (qid, nid, rank ≤ k); scores are intentionally not emitted —
    * ranks are stable across float ulp differences, raw floats are
    * not (the [[bruteForceTopK]] convention).
    *
    * Plan: anchors broadcast against one corpus scan (label
    * inequality and the dup guard filter INSIDE the scan projection),
    * ranked on the [[graft.plans.TopKPerGroup]] heap — k buffered
    * rows per anchor, no corpus shuffle. At 100 TB the same operator
    * runs against an IVF/projected SHORTLIST instead of the full scan
    * (the [[projectedRerankTopK]] composition) — the mining semantics
    * (label filter, dup guard, rank) are unchanged. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      dupCos: Double): DataFrame = {
    val c = corpus.toDF("nid", "e", "nlabel").withColumn("ne", norm(col("e")))
    val q = anchors.toDF("qid", "q", "qlabel").withColumn("nq", norm(col("q")))
    val joined = c.join(broadcast(q),
        col("nid") =!= col("qid") && col("nlabel") =!= col("qlabel"))
      .select(col("qid"), col("nid"),
        (dot(col("q"), col("e")) / (col("nq") * col("ne"))).as("sim"))
      .where(col("sim") < dupCos)
    rankTopK(joined, k)
  }

  /** BITEXT MINING by margin scoring (Artetxe & Schwenk, ACL 2019
    * §3; the CCMatrix/WikiMatrix parallel-corpus curation step): mine
    * aligned pairs across two embedding spaces by the DISTANCE margin
    * (the paper's §3.1 "distance" variant)
    *
    *   margin(x, y) = cos(x, y) − (avgNNk(x→Y) + avgNNk(y→X)) / 2
    *
    * — similarity normalized by each side's local density, which
    * kills the hubness failure of raw-cosine mining (a generic hub
    * sentence is near everything; its margin collapses because its
    * k-NN average is high). The difference form rather than the
    * paper's ratio: the ratio's denominator can cross zero on
    * general-position embeddings (a mostly-anti-aligned neighborhood),
    * where it rewards ANTI-aligned pairs with huge positive margins —
    * the difference is monotone in the same signal and total. A pair
    * is MINED when it is each side's mutual best by margin AND the
    * margin clears `threshold`.
    *
    * Candidates are the union of both directions' k-NN lists (the
    * paper's practice); margins round to 6 BEFORE ranking (the qPmi
    * convention) so selection never hinges on summation-order ulp in
    * the k-NN averages. Output: (xid, yid, margin), mutual best,
    * margin ≥ threshold.
    *
    * Plan: the anchor side broadcasts against one scan of the other
    * (the [[bruteForceTopK]] layout), both k-NN directions rank on the
    * [[graft.plans.TopKPerGroup]] heap over the SAME scored relation,
    * the margin join's dimensions are k-NN-list-sized, and the mutual
    * check is two rank-1 heaps joined. At 100 TB the scored relation
    * is the ANN shortlist (IVF/projected) instead of the exact cross —
    * the mining semantics are unchanged. */
  def bitextMine(xs: DataFrame, ys: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val x = xs.toDF("xid", "xe").withColumn("nx", norm(col("xe")))
    val y = ys.toDF("yid", "ye").withColumn("ny", norm(col("ye")))
    val sims = y.join(broadcast(x))
      .select(col("xid"), col("yid"),
        (dot(col("xe"), col("ye")) / (col("nx") * col("ny"))).as("sim"))
    def knn(side: String, other: String): DataFrame =
      graft.plans.TopKPerGroup.topKSorted(sims, Seq(side),
        Seq("sim" -> false, other -> true), k, rankName = "r")
        .select(col("xid"), col("yid"), col("sim"))
    val kx = knn("xid", "yid")
    val ky = knn("yid", "xid")
    val avgX = kx.groupBy(col("xid")).agg(avg(col("sim")).as("ax"))
    val avgY = ky.groupBy(col("yid")).agg(avg(col("sim")).as("ay"))
    val m = kx.unionByName(ky).distinct()
      .join(avgX, "xid").join(avgY, "yid")
      .select(col("xid"), col("yid"),
        round(col("sim") - (col("ax") + col("ay")) / lit(2.0), 6)
          .as("margin"))
    val bestX = graft.plans.TopKPerGroup.topKSorted(m, Seq("xid"),
      Seq("margin" -> false, "yid" -> true), 1, rankName = "r")
      .select(col("xid"), col("yid"), col("margin"))
    val bestY = graft.plans.TopKPerGroup.topKSorted(m, Seq("yid"),
      Seq("margin" -> false, "xid" -> true), 1, rankName = "r")
      .select(col("xid"), col("yid"))
    bestX.join(bestY, Seq("xid", "yid"))
      .where(col("margin") >= threshold)
  }

  /** [[randomProject]] in unexploded form: (idCol, proj) with `proj`
    * the array of `outDim` round-6 coordinates — the shape the
    * two-stage retrieval composes on. */
  def randomProjectVec(vecs: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int, seed: String): DataFrame = {
    val coords = (0 until outDim).map { j =>
      val sgn = (0 until dim).map { i =>
        if (graft.functions.MinhashKernel.md5Hash60(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              s"$seed:$i:$j")) % 2 == 0L) 1.0 else -1.0
      }
      // + 0.0 collapses IEEE negative zero: round can land on -0.0,
      // which compares equal but RENDERS differently across engines
      // (the sf0.1 gate caught exactly one such coordinate)
      round(dot(col(embCol), array(sgn.map(lit): _*)) /
        lit(math.sqrt(outDim.toDouble)), 6) + lit(0.0)
    }
    vecs.select(col(idCol), array(coords: _*).as("proj"))
  }

  /** TWO-STAGE retrieval: shortlist in PROJECTED space, re-rank
    * exactly in the original space — the standard compression
    * composition at corpus scale (JL coordinates are 4× smaller here
    * and 64/outDim-times cheaper per comparison; the exact cosine only
    * ever touches the m-element shortlist, so the expensive kernel
    * runs m·|queries| times instead of n·|queries|). Both stages are
    * deterministic — projected sims fold over round-6 coordinates,
    * ranks tie on nid — so an oracle replays shortlist AND re-rank
    * verbatim; recall vs the exact top-k is the JL distortion trade,
    * measured in LlmOpsSpec, not hidden. Output: (qid, nid, rank ≤ k),
    * ranked by (exact sim desc, nid) within the shortlist. */
  def projectedRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int, dim: Int, outDim: Int, seed: String): DataFrame = {
    val pc = randomProjectVec(corpus.toDF("nid", "e"), "nid", "e",
      dim, outDim, seed).toDF("nid", "pe")
      .withColumn("npe", norm(col("pe")))
    val pq = randomProjectVec(queries.toDF("qid", "q"), "qid", "q",
      dim, outDim, seed).toDF("qid", "pq")
      .withColumn("npq", norm(col("pq")))
    val projSim = pc.join(broadcast(pq), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("pq"), col("pe")) / (col("npq") * col("npe"))).as("sim"))
    val shortlist = rankTopK(projSim, m).select(col("qid"), col("nid"))
    val c = corpus.toDF("nid", "e").withColumn("ne", norm(col("e")))
    val q = queries.toDF("qid", "q").withColumn("nq", norm(col("q")))
    val exact = shortlist
      .join(c, "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        (dot(col("q"), col("e")) / (col("nq") * col("ne"))).as("sim"))
    rankTopK(exact, k)
  }

  /** Deterministic ±1 hyperplanes: planes(j)(d) ∈ {-1, 1}. */
  def planes(numPlanes: Int, dim: Int, seed: Long = 123457L): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(numPlanes)(IndexedSeq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-pattern bucket id of an embedding against the plane set. */
  def bucket(e: Column, ps: IndexedSeq[IndexedSeq[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(e, planeLit) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: candidates limited to the query's own LSH
    * bucket. Recall trades against bucket count; the plan is a bucket
    * equi-join + per-query window, never a crossJoin. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int, dim: Int): DataFrame = {
    val ps = planes(numPlanes, dim)
    val c = corpus.toDF("nid", "e").withColumn("bucket", bucket(col("e"), ps))
      .withColumn("ne", norm(col("e")))
    val q = queries.toDF("qid", "q").withColumn("bucket", bucket(col("q"), ps))
      .withColumn("nq", norm(col("q")))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("q"), col("e")) / (col("nq") * col("ne"))).as("sim"))
    rankTopK(joined, k)
  }

  /** Embedding-cosine near-dup pairs: the dedup-by-embedding member of
    * the dedup family (exact / MinHash / SimHash / cosine). Same
    * sign-plane bucketing as [[lshTopK]] — each vector lives in exactly
    * one bucket, the self-join is a bucket equi-join (never a
    * crossJoin), and a pair can appear at most once, so no distinct is
    * needed. Identical vectors share every plane sign, so exact-dup
    * recall is 1; near-dup recall follows the plane count. Cosine is
    * computed only on bucket-colliding pairs. */
  def cosineNearDups(vecs: DataFrame, threshold: Double,
      numPlanes: Int, dim: Int): DataFrame = {
    val ps = planes(numPlanes, dim)
    val b = vecs.toDF("id", "e").withColumn("bucket", bucket(col("e"), ps))
      .withColumn("n", norm(col("e")))
    val b1 = b.toDF("d1", "e1", "bucket", "n1")
    val b2 = b.toDF("d2", "e2", "bucket", "n2")
    // n1*n2 > 0 guard: a zero-norm vector makes cos = 0/0 = NaN, and
    // Spark orders NaN above every number so `NaN >= threshold` passes —
    // without the guard one zero vector pairs with its whole bucket
    b1.join(b2, Seq("bucket"))
      .where(col("d1") < col("d2") && col("n1") * col("n2") > 0)
      .select(col("d1"), col("d2"),
        (dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cosine"))
  }

  /** SQL twin of [[bucket]] for the DuckDB oracle. */
  def bucketSql(embExpr: String, ps: IndexedSeq[IndexedSeq[Double]]): String =
    ps.zipWithIndex.map { case (p, j) =>
      val arr = p.mkString("[", ",", "]::DOUBLE[]")
      s"(CASE WHEN list_inner_product($embExpr, $arr) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // --- IVF (inverted-file) variant --------------------------------------

  /** IVF cell assignment: nearest centroid by squared L2, computed as
    * argmin of (|c|² − 2·x·c) — the |x|² term is constant per vector and
    * drops out. Centroids are a deterministic corpus sample (every
    * `centroidMod`-th vec_id), making the quantizer replayable by the
    * SQL oracle; a production build would train k-means, which only
    * changes the centroid table, not this plan. The centroid side is
    * tiny and broadcast; the argmin is a per-vector window over the
    * (vector × centroid) scores with (score, cid) ordering so ties are
    * deterministic. */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    // |c|² hoisted into the tiny centroid table — computed once per
    // centroid instead of once per (vector × centroid) pair
    val cents = centroids.toDF("cid", "c")
      .withColumn("cc", dot(col("c"), col("c")))
    val scored = vecs.toDF("vid", "v")
      .join(broadcast(cents))
      .select(col("vid"), col("v"), col("cid"),
        (col("cc") - lit(2.0) * dot(col("v"), col("c"))).as("score"))
    // argmin via min_by with a (score, cid) struct — the same
    // lexicographic tie order as the oracle's ORDER BY score, cid — so
    // the aggregation partial-combines map-side: the exchange moves one
    // reduced row per vector, where the previous window-row_number
    // formulation shuffled and sorted the full (vector × centroid)
    // product. first(v) rides along under the same combine.
    scored.groupBy(col("vid"))
      .agg(
        min_by(col("cid"), struct(col("score"), col("cid"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vid"), col("v"), col("cell"))
  }

  /** Two-level (coarse-then-fine) centroid assignment — the flat
    * [[ivfAssign]]'s n·k scored broadcast join is the honest cost of
    * an EXACT argmin, and it is quadratic whenever the centroid count
    * tracks the corpus (k ∝ n makes assignment n²/29 dot products —
    * the measured 79.5× two-decade ratio on q_semdedup was ~all
    * quantizer, the within-cell pair mass stayed linear). This is the
    * standard IVF/hierarchical-k-means answer: pick g = ⌈√k⌉ COARSE
    * supers from the centroid table itself (every ⌈k/g⌉-th centroid
    * in cid order — deterministic, oracle-replayable), route every
    * centroid and every vector to its nearest super under the same
    * (score, cid) lexicographic argmin as the flat path, then argmin
    * only over the routed group's centroids. Per-vector work drops
    * k → g + k/g ≈ 2√k; both layers stay broadcast hash joins with
    * map-side-combining min_by, so the exchange still moves one
    * reduced row per vector per layer and nothing shuffles the
    * (vector × centroid) product.
    *
    * APPROXIMATE by the paper's own trade: a vector whose true
    * nearest centroid lives in a different coarse group quantizes to
    * its group's best — the same accepted-miss currency SemDeDup
    * already spends on cross-cell pairs. Deterministic: identical
    * vectors route identically at both layers, so the exact-clone
    * guarantee (a clone lands in its original's cell) survives.
    * The bounded driver-side `count()` mirrors the IVF-codebook
    * staged-collect discipline — centroids are broadcast-small by
    * this module's contract. */
  def ivfAssignHierarchical(vecs: DataFrame,
      centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids.toDF("cid", "c")
    val k = cents.count()
    if (k == 0) return vecs.toDF("vid", "v")
      .withColumn("cell", lit(null).cast(cents.schema("cid").dataType))
      .select(col("vid"), col("v"), col("cell"))
    val g = math.ceil(math.sqrt(k.toDouble)).toLong
    val step = (k + g - 1) / g
    // the unpartitioned window ranks the CENTROID table — broadcast-
    // sized by contract, never the corpus
    val supers = cents
      .withColumn("_rn", row_number().over(Window.orderBy(col("cid"))))
      .where((col("_rn") - 1) % step === 0)
      .select(col("cid").as("scid"), col("c").as("sc"))
      .withColumn("scc", dot(col("sc"), col("sc")))
    def coarse(xs: DataFrame): DataFrame =
      xs.join(broadcast(supers))
        .select(col("vid"), col("v"), col("scid"),
          (col("scc") - lit(2.0) * dot(col("v"), col("sc"))).as("_s"))
        .groupBy(col("vid"))
        .agg(min_by(col("scid"), struct(col("_s"), col("scid"))).as("grp"),
          first(col("v")).as("v"))
    val centGroups = coarse(cents.toDF("vid", "v"))
      .select(col("vid").as("cid"), col("v").as("c"), col("grp"))
      .withColumn("cc", dot(col("c"), col("c")))
    coarse(vecs.toDF("vid", "v"))
      .join(broadcast(centGroups), "grp")
      .select(col("vid"), col("v"), col("cid"),
        (col("cc") - lit(2.0) * dot(col("v"), col("c"))).as("score"))
      .groupBy(col("vid"))
      .agg(min_by(col("cid"), struct(col("score"), col("cid"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vid"), col("v"), col("cell"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540 §3): semantic near-dup
    * labels scoped to embedding-space clusters — candidate pairs are
    * compared only WITHIN a cluster cell, the paper's key trick: with
    * k balanced cells the pairwise work drops from n² to ~Σ n_c²
    * ≈ n²/k, and cells parallelize perfectly (the cell equi-join
    * shuffles once on the cell key, never a crossJoin). Pipeline:
    * quantize to cells ([[ivfAssign]] — the same deterministic
    * sampled-centroid quantizer the IVF queries use; a trained
    * [[kmeansCentroids]] table drops in without a plan change) →
    * exact within-cell cosine pairs at `threshold` (no LSH recall
    * curve inside a cell) → connected components → min-id canonical
    * per component. Returns (id, comp) labels; callers materialize
    * the surviving corpus via [[graft.operators.Graph.dropDuplicates]].
    * Cross-cell near-dup pairs are never compared — the paper accepts
    * exactly that miss in exchange for the n²/k bound. */
  /** A cell holding more than this many vectors is deterministically
    * SPLIT into ⌈n/cap⌉ id-hashed sub-shards before the within-cell pair
    * join — the board's only quadratic-in-a-cell cost otherwise rides one
    * degenerate cell (an all-boilerplate corpus cluster) into one O(n²)
    * reducer at 100 TB. Splitting (not dropping, as the LSH hot-bucket
    * cap does) is the right guard here: a band bucket's docs still pair
    * through 15 other bands, but a SemDeDup cell is the ONLY place its
    * pairs can form. Sub-shards bound per-task pair work at ~cap² while
    * keeping within-shard dedup; cross-shard pairs inside a split cell
    * are accepted misses — the same trade the paper already makes for
    * cross-CELL pairs (SemDeDup quantizes precisely to bound pair work).
    * 1000 is far above any honest cell at tested scales: the cap must
    * not fire at sf0.01, and doesn't (LlmOpsSpec pins sub ≡ 0 there). */
  val MaxCellSize = 1000

  /** The hot-cell split, shared by [[semDedupLabels]] and
    * [[incrementalCosineNearDups]] so the guard can never diverge
    * between the batch and incremental paths: per-cell count via a
    * window over the SAME cell key the pair join shuffles on (the
    * quantizer subtree is computed once, and the self-join inputs are
    * identical subplans over one exchange — ReuseExchange dedupes
    * them, the lshCandidates discipline); cells above `maxCellSize`
    * split into ⌈n/cap⌉ id-hashed `sub` shards. Keeps every input
    * column and appends `sub`. */
  private[graft] def shardCells(assigned: DataFrame, maxCellSize: Int): DataFrame =
    assigned
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("sub", when(col("_n") <= maxCellSize, lit(0L))
        .otherwise(pmod(xxhash64(col("vid")),
          ceil(col("_n") / maxCellSize).cast("long"))))
      .drop("_n")

  def semDedupLabels(vecs: DataFrame, centroids: DataFrame,
      threshold: Double, maxCellSize: Int = MaxCellSize,
      // the quantizer is pluggable: [[ivfAssign]] (exact argmin, n·k)
      // by default; [[ivfAssignHierarchical]] (n·2√k) when the
      // centroid count tracks the corpus — the k ∝ n deployment shape
      assign: (DataFrame, DataFrame) => DataFrame = ivfAssign): DataFrame = {
    val sharded = shardCells(assign(vecs, centroids), maxCellSize)
      .select(col("vid"), col("v"), col("cell"), col("sub"))
    val a1 = sharded.toDF("d1", "e1", "cell", "sub")
      .withColumn("n1", norm(col("e1")))
    val a2 = sharded.toDF("d2", "e2", "cell", "sub")
      .withColumn("n2", norm(col("e2")))
    // n1*n2 > 0: zero-norm embeddings would yield cos = 0/0 = NaN, which
    // Spark's NaN ordering treats as >= threshold — one zero vector would
    // link its entire cell into a single component and dropDuplicates
    // would then erase the cell. Zero-norm rows simply never pair.
    val pairs = a1.join(a2, Seq("cell", "sub"))
      .where(col("d1") < col("d2") && col("n1") * col("n2") > 0)
      .select(col("d1"), col("d2"),
        (dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("cos"))
      .where(col("cos") >= threshold)
    graft.operators.Graph.connectedComponents(pairs, "d1", "d2")
  }

  /** INCREMENTAL embedding near-dup: a delta batch against an
    * already-quantized base — the SemDeDup maintenance shape. The
    * quantizer is FIXED (the centroid table built when base was
    * built); base cell assignments are a stored table at scale
    * (recomputed from the input here as the test-harness stand-in).
    * The pair join's LEFT side is the delta only, so within-cell
    * base×base pair work — the dominant cost of a full re-run —
    * never materializes: per cell the work is |delta_c| × n_c, not
    * n_c². Delta×delta pairs keep the d1 < d2 canonical form;
    * delta×base pairs are emitted once via the delta side and
    * canonicalized with least/greatest. The same >maxCellSize
    * id-hash split guard as [[semDedupLabels]] bounds a degenerate
    * cell (computed over base+delta combined, so both sides shard
    * consistently). Base and delta ids must be disjoint. */
  def incrementalCosineNearDups(base: DataFrame, delta: DataFrame,
      centroids: DataFrame, threshold: Double,
      maxCellSize: Int = MaxCellSize,
      // pluggable like semDedupLabels: the flat exact argmin by
      // default; the hierarchical route when k tracks the corpus (the
      // base re-assign here is the stored-table STAND-IN — at scale it
      // is read, not recomputed — but the harness recompute should not
      // be quadratic either: the 100× stress measured the flat form at
      // 229× before the gate switched to hierarchical)
      assign: (DataFrame, DataFrame) => DataFrame = ivfAssign): DataFrame = {
    val ab = assign(base, centroids).toDF("vid", "v", "cell")
      .withColumn("isDelta", lit(false))
    val ad = assign(delta, centroids).toDF("vid", "v", "cell")
      .withColumn("isDelta", lit(true))
    val sharded = shardCells(ab.unionByName(ad), maxCellSize)
      .select(col("vid"), col("v"), col("cell"), col("sub"), col("isDelta"))
    val a1 = sharded.where(col("isDelta"))
      .toDF("d1", "e1", "cell", "sub", "_i1")
      .withColumn("n1", norm(col("e1")))
    val a2 = sharded.toDF("d2", "e2", "cell", "sub", "isDelta2")
      .withColumn("n2", norm(col("e2")))
    a1.join(a2, Seq("cell", "sub"))
      .where((!col("isDelta2") && col("d1") =!= col("d2")) ||
             (col("isDelta2") && col("d1") < col("d2")))
      .where(col("n1") * col("n2") > 0)   // zero-norm NaN guard, as above
      .select(least(col("d1"), col("d2")).as("da"),
        greatest(col("d1"), col("d2")).as("db"),
        (dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("da").as("d1"), col("db").as("d2"),
        round(col("cos"), 6).as("cosine"))
  }

  /** IVF top-k: both corpus and probes are quantized to their nearest
    * centroid cell; each probe searches only its own inverted list
    * (cell equi-join — the nprobe=1 scale path; more probe cells would
    * union more joins). Output ranks, not raw scores. */
  /** Lloyd's k-means over the embedding column — the IVF index BUILD
    * path (q_ann_ivf's deterministic corpus-sample quantizer stands in
    * for these trained centroids in the oracle-checked query; this
    * operator produces the production centroid table). Deterministic:
    * init = every `initMod`-th vector, fixed `iters` sweeps, ties in
    * assignment broken by centroid id (same rule as ivfAssign).
    *
    * Scale shape per iteration: one broadcast of the centroid table
    * (k × dim doubles), one scan of the corpus for assignment (per-row
    * argmin, no shuffle), then a posexplode to (cell, dim) pairs and a
    * partial-aggregable avg — the only exchange moves k × dim reduced
    * rows per map partition. Empty cells keep their previous centroid
    * (standard Lloyd practice; keeps k stable).
    *
    * Every sweep materializes through a lineage cut (Graph.cut —
    * the connectedComponents round discipline): without it each sweep
    * nests join+groupBy+transform on top of the previous plan and the
    * tree grows without bound in the iteration count (exactly the
    * failure Graph.scala documents for CC). Each superseded sweep's
    * blocks are released as soon as its successor materializes, so
    * residue stays at the one pinned centroid table the caller
    * receives — k × dim doubles — regardless of `iters` (LlmOpsSpec
    * pins plan depth and residue at iters=10). */
  def kmeansCentroids(corpus: DataFrame, initMod: Int, iters: Int): DataFrame =
    kmeansFrom(corpus,
      corpus.toDF("cid", "c").where(col("cid") % initMod === 0), iters)

  /** Lloyd sweeps from an EXPLICIT (cid, vector) init table — the
    * entry point when k must not track the corpus id space (e.g.
    * ScaleStress holds k fixed across 1×/N× so the ratio measures
    * data scaling, not centroids×data). */
  def kmeansFrom(corpus: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var cents = init.toDF("cid", "c")
      .select(col("cid"), col("c").cast("array<double>").as("c"))
    (1 to iters).foreach { i =>
      val assigned = ivfAssign(corpus, cents)  // (vid, v, cell)
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cid"),
          transform(col("pm"), x => x.getField("m")).as("c"))
      // empty cells: keep the previous centroid so k never shrinks
      val next = Graph.cut(
        cents.toDF("cid", "prev")
          .join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("c"), col("prev")).as("c")))
      if (i > 1) Graph.release(cents)
      cents = next
    }
    // the surviving sweep's cut backs the returned centroid table —
    // register it so the session can release it (TextDedup/Graph
    // discipline) instead of leaving it pinned for the process
    if (iters > 0) graft.Staging.registerPinned(corpus.sparkSession, cents)
    cents
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidMod: Int): DataFrame =
    ivfTopKProbed(corpus, queries, k, centroidMod, nprobe = 1)

  /** Int8-quantized top-k — the ANN memory-bandwidth path at 100 TB:
    * the corpus is scanned as per-vector symmetric int8
    * ([[graft.functions.NativeMath.int8Quantize]] — 4×/8× smaller than
    * float/double, SIMD-friendly byte lanes), and similarity is the
    * quantized cosine q_a·q_b / (√(q_a·q_a)·√(q_b·q_b)) — the
    * per-vector scales cancel. All three dot products are EXACT
    * integers (long accumulator), so unlike every float variant there
    * is no summation-order caveat anywhere: the oracle's replay is
    * bit-identical by construction, not by matched fold order.
    * Self-dots are hoisted to each side (computed once per vector, not
    * per pair); zero vectors never pair (selfdot > 0 guard). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import graft.functions.NativeMath.{int8Dot, int8Quantize}
    val c = corpus.toDF("nid", "e")
      .select(col("nid"), int8Quantize(col("e")).as("qe"))
      .withColumn("se", int8Dot(col("qe"), col("qe")))
      .where(col("se") > 0)
    val q = queries.toDF("qid", "q")
      .select(col("qid"), int8Quantize(col("q")).as("qq"))
      .withColumn("sq", int8Dot(col("qq"), col("qq")))
      .where(col("sq") > 0)
    val joined = c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (int8Dot(col("qq"), col("qe")).cast("double") /
          (sqrt(col("sq").cast("double")) * sqrt(col("se").cast("double"))))
          .as("sim"))
    rankTopK(joined, k)
  }

  /** Product-quantization top-k (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI'11) — the compressed-corpus
    * scale path: vectors are split into `m` subspaces, each encoded as
    * its nearest codebook centroid, so a 64-dim float vector is scanned
    * as 8 code BYTES (32× smaller — at 100 TB the ADC scan reads ~3 TB).
    * Scoring is asymmetric (ADC): each query precomputes an m×k
    * distance-lookup table once; per corpus vector the score is m table
    * reads, no float math per dimension. Rank order equals true
    * quantized L2 order because the dropped |x|² and |q|² terms are
    * constant per vector pair (the ivfAssign argmin trick, applied
    * twice). The codebook is a deterministic corpus sample (the k
    * smallest sampled ids — k·dim doubles collected to the driver, a
    * constant like the corrections dimension table); a trained
    * per-subspace k-means drops in without a plan change. Probes are
    * broadcast with their tables; the corpus side is a scan of codes —
    * no shuffle of the corpus anywhere. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, kNeighbors: Int,
      codebookMod: Int, m: Int = 8, numCodes: Int = 16): DataFrame = {
    val donors = pqDonors(corpus, codebookMod, numCodes)
    val dim = donors.head.length
    val sub = dim / m
    // flattened [subspace][code][dim] layout shared by all three kernels
    val flat = new Array[Double](m * numCodes * sub)
    for (i <- 0 until m; kk <- 0 until numCodes; j <- 0 until sub)
      flat((i * numCodes + kk) * sub + j) = donors(kk)(i * sub + j)
    pqSearch(corpus, queries, kNeighbors, flat, m, numCodes, sub)
  }

  private def pqDonors(corpus: DataFrame, codebookMod: Int,
      numCodes: Int): Array[Array[Double]] = {
    val donors = corpus.toDF("nid", "e")
      .where(col("nid") % codebookMod === 0)
      .orderBy(col("nid")).limit(numCodes)
      .select(col("e").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(donors.length == numCodes,
      s"codebook needs $numCodes donors, got ${donors.length}")
    donors
  }

  /** ADC search against an already-built flat codebook — the shared
    * back half of the sampled and trained PQ variants. */
  private def pqSearch(corpus: DataFrame, queries: DataFrame,
      kNeighbors: Int, flat: Array[Double], m: Int, numCodes: Int,
      sub: Int): DataFrame = {
    import graft.functions.NativeMath.{pqAdc, pqDistTable, pqEncode}
    val c0 = corpus.toDF("nid", "e")
    val cb = lit(flat)
    val codes = c0.select(col("nid"),
      pqEncode(col("e"), cb, m, numCodes).as("code"))
    val probes = queries.toDF("qid", "q")
      .select(col("qid"), pqDistTable(col("q"), cb, m, numCodes).as("t"))
    val joined = codes.join(broadcast(probes), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        negate(pqAdc(col("code"), col("t"), numCodes)).as("sim"))
    rankTopK(joined, kNeighbors)
  }

  /** PQ with a TRAINED codebook: one joint Lloyd sweep refines the
    * sampled donors — all m subspaces train in a single distributed
    * pass using a composite (subspace, code) cell key, so the plan is
    * one slice-explode scan + one broadcast join + one partial-
    * aggregable mean, not m separate k-means jobs. The refined
    * codebook (m × numCodes × sub doubles — ~1k values, a bounded
    * constant like the sampled one) is rounded to 6 decimals so an
    * oracle replaying the same sweep sees bit-identical codes, then
    * drops into the unchanged ADC search. */
  def pqTrainedTopK(corpus: DataFrame, queries: DataFrame,
      kNeighbors: Int, codebookMod: Int, m: Int = 8,
      numCodes: Int = 16): DataFrame = {
    val donors = pqDonors(corpus, codebookMod, numCodes)
    val dim = donors.head.length
    val sub = dim / m
    val c0 = corpus.toDF("nid", "e")
    // (nid, subspace i, 8-dim slice) — posexplode's `pos` IS the
    // subspace index because the array below lists slices in order
    val slices = c0.select(col("nid"),
        posexplode(array((0 until m).map(i =>
          slice(col("e").cast("array<double>"), i * sub + 1, sub)): _*)))
      .toDF("nid", "i", "x")
    val initRows = for (i <- 0 until m; kk <- 0 until numCodes)
      yield (i, kk, donors(kk).slice(i * sub, (i + 1) * sub).toSeq)
    val init = corpus.sparkSession.createDataFrame(initRows)
      .toDF("i", "k", "c")
    val scored = slices.join(broadcast(init), Seq("i"))
      .select(col("nid"), col("i"), col("k"), col("x"),
        (dot(col("c"), col("c")) - lit(2.0) * dot(col("x"), col("c")))
          .as("score"))
    // same (score, code) argmin tie order as ivfAssign / the oracle
    val assigned = scored.groupBy(col("nid"), col("i"))
      .agg(min_by(struct(col("k"), col("x")),
        struct(col("score"), col("k"))).as("a"))
      .select(col("i"), col("a.k").as("k"), col("a.x").as("x"))
    val means = assigned.select(col("i"), col("k"), posexplode(col("x")))
      .groupBy(col("i"), col("k"), col("pos"))
      .agg(avg(col("col")).as("mv"))
      .collect()  // ≤ m·numCodes·sub rows — the bounded codebook itself
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // empty cells keep their donor slice (standard Lloyd practice);
    // EVERY entry is then rounded so both engines search identical codes
    val trained = Array.tabulate(m, numCodes, sub)((i, kk, j) =>
      donors(kk)(i * sub + j))
    means.foreach { r =>
      trained(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
    }
    val flat = new Array[Double](m * numCodes * sub)
    for (i <- 0 until m; kk <- 0 until numCodes; j <- 0 until sub)
      flat((i * numCodes + kk) * sub + j) = r6(trained(i)(kk)(j))
    pqSearch(corpus, queries, kNeighbors, flat, m, numCodes, sub)
  }

  /** IVF top-k with multi-cell probing — the recall knob: each query
    * searches its `nprobe` nearest inverted lists instead of one.
    * Corpus vectors still live in exactly one cell (assignment stays
    * min_by, no duplication), so probe cells contribute disjoint
    * neighbor sets and no dedup is needed. The probe expansion is a
    * window over the (tiny, broadcast) query × centroid table only —
    * the corpus-side plan is identical to nprobe=1 at any scale. */
  def ivfTopKProbed(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidMod: Int, nprobe: Int): DataFrame =
    ivfTopKWith(corpus, queries, k,
      corpus.toDF("cid", "c").where(col("cid") % centroidMod === 0), nprobe)

  /** IVF top-k against an EXPLICIT centroid table — the production
    * shape: [[kmeansCentroids]] (or any offline-trained quantizer)
    * plugs in here, closing the build→search loop the sampled-centroid
    * variants stand in for. The plan is identical to [[ivfTopKProbed]]
    * — the quantizer only changes the (tiny, broadcast) centroid
    * table, never the corpus-side plan. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nprobe: Int = 1): DataFrame =
    ivfTopKAssigned(
      ivfAssign(corpus, centroids.toDF("cid", "c")).toDF("nid", "e", "cell"),
      queries, k, centroids, nprobe)

  /** [[ivfTopKWith]] over a PRECOMPUTED (nid, e, cell) assignment —
    * the form a query family uses when the inverted-list assignment is
    * a staged/stored product shared across searches (the
    * minhashNearDupsFromSigs pattern: at 100 TB the assignment IS the
    * stored index; in the harness it stages once per session via
    * [[graft.Staging]]). Plan identical to the self-assigning form
    * from the probe selection down. */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    val cents0 = centroids.toDF("cid", "c")
    val c = assigned.toDF("nid", "e", "cell")
    val cents = cents0.withColumn("cc", dot(col("c"), col("c")))
    val qScored = queries.toDF("qid", "qv")
      .join(broadcast(cents))
      .select(col("qid"), col("qv"), col("cid"),
        (col("cc") - lit(2.0) * dot(col("qv"), col("c"))).as("score"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("score"), col("cid"))
    val probes = qScored.withColumn("rn", row_number().over(pw))
      .where(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
    val joined = c.join(broadcast(probes), Seq("cell"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("e")).as("sim"))
    rankTopK(joined, k)
  }

  /** Two-level IVF top-k search over a HIERARCHICALLY-assigned index
    * (nprobe = 1): `assigned` is [[ivfAssignHierarchical]]'s
    * (vid, v, cell) output — the stored inverted-list index at scale —
    * and each probe (rows of `assigned` matching `probeFilter`, so
    * probes route through the IDENTICAL two-level expression and can
    * never disagree with the index about their own cell) searches only
    * its own cell's list via a cell equi-join with the probe side
    * broadcast. This is the IVF whose INDEX BUILD stays 100×-stressable
    * when the centroid count tracks the corpus: per-vector quantize
    * work is g + k/g ≈ 2√k scores vs the flat n·k (the reason
    * q_ann_ivf's build is deliberately absent from the two-decade
    * stress while this gate carries one). Search cost per probe is its
    * cell list, same as the flat IVF. Output (qid, nid, rank) on the
    * bounded [[graft.plans.TopKPerGroup]] heap. */
  def ivf2TopK(assigned: DataFrame, probeFilter: Column,
      k: Int): DataFrame = {
    val q = assigned.where(probeFilter).toDF("qid", "qv", "cell")
    val c = assigned.toDF("nid", "e", "cell")
    val joined = c.join(broadcast(q), Seq("cell"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("e")).as("sim"))
    rankTopK(joined, k)
  }

  /** Nearest-centroid classification in EXACT integer arithmetic, with
    * the confusion matrix out: embeddings quantize to integer
    * micro-units (floor(x·1e6) — float→double is exact, one IEEE
    * multiply, floor), per-label centroids are floor-of-mean in the
    * same units, every squared-L2 distance is then a BIGINT sum (no
    * float fold, no tolerance) and the argmin is total under
    * (dist, label). The Rocchio/NCC baseline a labeling pipeline runs
    * to sanity-check embedding quality — "do the classes even
    * separate" — before anything learned.
    *
    * Plan: one posexplode aggregation for centroids (labels×dims rows
    * — a dimension table), broadcast back over the corpus scan, L
    * distances per vector via zip_with/aggregate column arithmetic,
    * min_by argmin, then a (label, pred) count. The corpus is read
    * twice (centroid pass + classify pass) and shuffled never —
    * label-count-sized aggregates only. */
  def nearestCentroidConfusion(emb: DataFrame, idCol: String,
      labelCol: String, vecCol: String): DataFrame = {
    val micro = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1e6)).cast("long"))
    val q = emb.select(col(idCol).as("_id"), col(labelCol).as("label"),
      micro.as("_m"))
    val centroids = q
      .select(col("label"), posexplode(col("_m")).as(Seq("_p", "_x")))
      .groupBy(col("label"), col("_p"))
      .agg(floor(sum(col("_x")) / count(lit(1))).cast("long").as("_c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("_p"), col("_c")))).as("_pc"))
      .select(col("label").as("_cl"),
        transform(col("_pc"), s => s.getField("_c")).as("_cv"))
    val dist = aggregate(
      zip_with(col("_m"), col("_cv"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, d) => acc + d)
    q.crossJoin(broadcast(centroids)) // labels-sized dimension
      .select(col("_id"), col("label"),
        struct(dist.as("d"), col("_cl").as("l")).as("_dl"))
      .groupBy(col("_id"), col("label"))
      .agg(min(col("_dl")).as("_best"))
      .groupBy(col("label"), col("_best").getField("l").as("pred"))
      .agg(count(lit(1)).as("n"))
  }
}
