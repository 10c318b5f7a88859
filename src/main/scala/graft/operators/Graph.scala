package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Small-graph algorithms the dedup pipelines need, and the one
  * lineage-cut primitive ([[Graph.cut]] / [[Graph.release]]) that every
  * iterative operator and shared-subtree materialization goes through. */
object Graph {

  /** Connected components by iterative min-label propagation — the
    * cluster-resolution step after any near-dup pair generation: pairs
    * say "these two are the same document", components say "this is
    * the set, and its canonical id is the minimum member", which is
    * what a dedup pass actually deletes against.
    *
    * The edge list is materialized once, both directions, through
    * [[cutCounted]]; its measured row count picks the path:
    *   - DRIVER (at most [[LocalEdgeRows]] bidirected rows and a
    *     `LongType` id): the cut's rows are collected as primitive long
    *     pairs and union-find with the minimum id as the root labels
    *     every node, in one job on the cached cut. The answer is exact
    *     whatever the diameter, so `maxIter` does not apply. A null
    *     endpoint keeps the distributed path's (null, null) row.
    *   - DISTRIBUTED (above the bound, or any other id type): each
    *     round every node takes the minimum component label among
    *     itself and its neighbors (one hash join edges⋈labels + one
    *     partial-aggregable min — both shuffle on the same id key);
    *     convergence needs diameter rounds, and near-dup clusters are
    *     almost-cliques, so 2-3 rounds settle real corpora. The loop
    *     stops early on a fixpoint (an aggregate-only check, no
    *     driver-side data). Every round materializes through a [[cut]]
    *     — iterative DataFrame algorithms MUST truncate the plan each
    *     round or the nested join plan grows exponentially with
    *     iterations (a 10-hop path aborts analysis without it;
    *     GraphSpec pins that case on this path). Each
    *     superseded round is [[release]]d as soon as its successor
    *     materializes, so block usage stays O(1) in rounds.
    * Both paths return the same rows under the same schema
    * (RandomizedParitySpec pins it).
    *
    * Cache residue: on the driver path none — the result is built
    * from driver arrays and the edge cut is released. On the
    * distributed path exactly ONE cut remains — the final round, which
    * backs the returned label table; it is registered with
    * [[graft.Staging.registerPinned]], so it lives until the session
    * releases its pins. GraphSpec pins both residue counts.
    *
    * @param edges undirected pair list (src, dst)
    * @return (id, comp) — every node that appears in any edge, labeled
    *   with the minimum id reachable from it
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame =
    connectedComponents(edges, src, dst, maxIter, LocalEdgeRows)

  private[graft] def connectedComponents(edges: DataFrame, src: String,
      dst: String, maxIter: Int, localEdgeRows: Long): DataFrame = {
    // materialize the edge list ONCE: every round references it twice,
    // and without the cut each round would recompute the whole upstream
    // pair-generation pipeline (for near-dup input that is the entire
    // LSH + verify chain — measured 5x the total query cost). Both
    // directions come from ONE reference to `edges`, so the cut scans
    // that upstream once; a union of two projections would plan it twice
    val (und, undRows) = cutCounted(
      edges.select(inline(array(
          struct(col(src).as("a"), col(dst).as("b")),
          struct(col(dst).as("a"), col(src).as("b")))))
        .distinct())
    val id = und.schema("a")
    if (id.dataType == LongType && undRows <= localEdgeRows) {
      val (pairs, sawNull) = collectLongPairs(und)
      release(und)
      val (ids, comp) = minRootComponents(pairs)
      return driverFrame(edges.sparkSession,
        StructType(Seq(id.copy(name = "id"), id.copy(name = "comp"))),
        ids, comp, nullRow = sawNull)
    }
    // (id, comp); from round 1 on, the round's cut (id, comp, _chg)
    var labels = und.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        val nbrMin = und
          .join(labels.select(col("id").as("b"), col("comp").as("_nc")), "b")
          .groupBy(col("a").as("id")).agg(min(col("_nc")).as("_nbMin"))
        // the changed flag rides the propagation join, so convergence
        // detection is a cheap scan of the materialized round result —
        // not another shuffle join of next⋈labels per round
        val newComp = least(col("comp"), coalesce(col("_nbMin"), col("comp")))
        val next = cut(labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), newComp.as("comp"),
            (newComp =!= col("comp")).as("_chg")))
        converged = next.filter(col("_chg")).head(1).isEmpty
        // `next` is materialized and lineage-cut — the previous round's
        // blocks can no longer be read by anything; release them now
        if (iter > 0) release(labels)
        labels = next
        iter += 1
      }
    } finally {
      release(und)
      // on the non-convergence throw path the last round is garbage too
      if (!converged && iter > 0) release(labels)
    }
    // Unconverged labels are WRONG labels (a component split across
    // several canonical ids corrupts downstream deletion sets silently),
    // so failing loud beats returning them. Near-dup cliques converge in
    // 2-3 rounds; a graph that genuinely needs more gets a bigger budget
    // from the caller, not a quietly wrong answer.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        "raise maxIter for graphs with diameter beyond the label-" +
        "propagation budget")
    // the final round's cut backs the returned label table — register
    // it, or every invocation would leave its label blocks pinned until
    // session end with no handle
    graft.Staging.registerPinned(edges.sparkSession, labels).drop("_chg")
  }

  /** Union-find over packed (a, b) id pairs (see [[collectLongPairs]]),
    * the minimum id always the root: every id that appears, ascending,
    * with the minimum id of its component. Ids are replaced by their
    * rank in the sorted distinct id array, so the forest is a primitive
    * `Int` array and the smaller rank is the smaller id. */
  private def minRootComponents(
      pairs: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = distinctSorted(pairs)
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val up = parent(c); parent(c) = r; c = up }
      r
    }
    var i = 0
    while (i < pairs.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, pairs(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, pairs(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    (ids, Array.tabulate(ids.length)(k => ids(find(k))))
  }

  /** `xs` sorted ascending with duplicates dropped. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** The rows of a cut whose first two columns are longs, packed per
    * partition into one primitive array (a0, b0, a1, b1, …) before they
    * leave the executor, so the driver holds 16 bytes per row instead
    * of a deserialized row object; also whether any row had a null `a`.
    * Such a row is left out, and a null `b` is packed as (a, a): it
    * makes `a` a node and links it to nothing. */
  private def collectLongPairs(cut: DataFrame): (Array[Long], Boolean) = {
    val parts = cutRdd(cut).mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      var sawNull = false
      it.foreach { r =>
        if (r.isNullAt(0)) sawNull = true
        else {
          val a = r.getLong(0)
          buf += a
          buf += (if (r.isNullAt(1)) a else r.getLong(1))
        }
      }
      Iterator.single((buf.result(), sawNull))
    }.collect()
    (Array.concat(parts.map(_._1).toIndexedSeq: _*), parts.exists(_._2))
  }

  /** Bidirected edge-row count at or under which [[connectedComponents]],
    * [[labelPropagation]] and [[kCoreNumbers]] finish IN-PROCESS off
    * their already-materialized edge cut. All three gate on a `LongType`
    * id and read it as a primitive long: the driver holds the edge list
    * as ≈ 32 MB of long pairs at the bound. Per-round Spark latency (a
    * lineage-cut job plus exchanges, tenths of a second however small
    * the data) is the entire cost of a dimension-sized graph — a
    * `curate` pass's 11-edge graph spent 28 jobs in components. The
    * size is MEASURED (the cut's own count, from [[cutCounted]], no
    * extra job), never assumed; graphs above it take the distributed
    * rounds unchanged, and the local loops compute the identical answer
    * (GraphSpec and RandomizedParitySpec pin local ≡ distributed).
    * Placed by measurement (`graft.GraphBound` in the specs' sources:
    * 4 cores, 4 GB heap, clusters of 8 ids): the driver paths of CC
    * and LPA beat the distributed rounds 3-4× at every size from 48k
    * to 9.6M rows (at 1.92M, CC 1.3-1.8 s against 4.9-6.9 s, LPA
    * 1.0-1.3 s against 4.1-5.9 s), and kCore's beats its own 2.5-3×
    * at 1.92M, so time does not cross over in that range; driver memory sets the
    * bound. At 1.92M rows the driver path's old-generation peak rise
    * (CC ≈ 1.0 GB, LPA ≈ 0.75 GB) stays under the distributed path's
    * in the same JVM; at 9.6M CC's reached 3.7 GB of the 4 GB heap. */
  private val LocalEdgeRows = 2000000L

  /** A driver-computed (id, value) result — a component, label or core
    * number per id — as a frame of `schema`: row k is
    * (ids(k), values(k)), plus a (null, null) row when `nullRow`. The
    * leaf is a `LogicalRDD` over ONE partition — the partitioning AQE
    * gives the distributed path's last round, whose rows at the bound
    * fit one 64 MB advisory partition — with the exact row count as its
    * statistics, so the planner can broadcast it (a [[cut]] plans with
    * default statistics). The rows are built from the two primitive
    * arrays when a task reads them; there are no blocks to pin or
    * release. */
  private def driverFrame(spark: SparkSession, schema: StructType,
      ids: Array[Long], values: Array[Long], nullRow: Boolean): DataFrame = {
    val rows = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      ids.indices.iterator.map(k => InternalRow(ids(k), values(k))) ++
        (if (nullRow) Iterator.single(InternalRow(null, null))
         else Iterator.empty)
    }
    GraftSqlBridge.internalCreateDataFrame(spark, rows, schema,
      ids.length + (if (nullRow) 1 else 0))
  }

  /** Eager local lineage cut: materialize `df` into locally
    * checkpointed blocks and return a frame whose plan is a single
    * leaf over them (a `LogicalRDD` with default statistics — the
    * origin plan's estimates and constraints do not carry over, so a
    * table re-cut every round plans in constant time). Iterative
    * DataFrame loops cut once per round to keep plan depth constant;
    * a shared subtree is cut once so its consumers stop re-expanding
    * it. The blocks stay pinned until [[release]] (or, for a cut
    * handed to [[graft.Staging.registerPinned]], until the session
    * releases its pins). The cut stays in the Tungsten representation
    * (toRdd + internalCreateDataFrame): `df.rdd` would decode every
    * InternalRow to Row and re-encode it on read. The per-row copy()
    * is required — codegen operators reuse row buffers, and caching
    * uncopied rows would alias them. `Dataset.localCheckpoint` is not
    * used because it hides the checkpointed RDD behind the frame's
    * plan and keeps the origin plan's constraints. */
  def cut(df: DataFrame): DataFrame = cutCounted(df)._1

  /** [[cut]], with the row count its materialization job measured — a
    * size gate read from it costs no extra job. */
  private def cutCounted(df: DataFrame): (DataFrame, Long) =
    materialize(df, df.queryExecution.toRdd.map(_.copy()))

  /** Unpersist the blocks behind a frame [[cut]] returned. The frame
    * (and anything derived from it) becomes unreadable — call once its
    * consumers have materialized. Throws on a frame that is not a cut
    * (a projection of a cut included): releasing nothing would leak
    * silently. Releasing the same cut twice is harmless. */
  def release(df: DataFrame): Unit = cutRdd(df).unpersist(blocking = false)

  /** The checkpointed rows behind a frame [[cut]] returned. */
  private[graft] def cutRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a Graph.cut frame (plan root: ${p.nodeName})")
    }

  /** Checkpoint `rows` (the per-row copy of `df`'s Tungsten rows) and
    * rebuild a frame of `df`'s schema over them; returns it with the
    * row count. The count stays in this file: the benchmark's tracer
    * attributes cut jobs by the stage name "count at Graph.scala". */
  private def materialize(df: DataFrame,
      rows: RDD[InternalRow]): (DataFrame, Long) = {
    rows.localCheckpoint()
    // a failed materialization must drop its own checkpoint marking
    // (localCheckpoint registers the RDD persisted BEFORE the count),
    // or every failed cut leaks an entry in the context's persistent
    // registry for the life of the session
    val n =
      try rows.count()
      catch { case t: Throwable => rows.unpersist(blocking = false); throw t }
    (GraftSqlBridge.internalCreateDataFrame(df.sparkSession, rows, df.schema),
      n)
  }

  /** PageRank (Brin & Page '98, the simplified no-dangling-
    * redistribution variant): `iters` synchronous sweeps of
    * r' = (1-d)/n + d·Σ_{u→v} r(u)/deg(u) over DISTINCT edges.
    * The edge list and node set are lineage-cut ONCE before the loop
    * — an expensive upstream (an LSH pair generator, say) runs
    * exactly once, not once per sweep (the [[connectedComponents]]
    * `und` discipline). Per-sweep plan: one join of the rank table to
    * the cut edge list (both keyed on src), a partial-aggregable
    * per-dst sum, and a left join back to the cut node set; rank
    * lineage cuts per sweep keep plan depth constant in `iters`.
    * Ranks are rounded to 9 decimals after EVERY sweep: cross-engine
    * double-sum order wobble (~1e-16) can never accumulate across
    * sweeps, so an oracle replaying the same rounded sweeps is
    * bit-identical (the trained-quantizer pinning discipline). `n` is
    * a driver-side scalar (the node-set cut's own measured count —
    * the graph's node count, no extra job). The last sweep's cut
    * backs the result and is registered with
    * [[graft.Staging.registerPinned]]; every other cut is released. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val e = cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val (nodes, n) = cutCounted(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var r = nodes.withColumn("r", lit(1.0 / n))
    (1 to iters).foreach { i =>
      val contrib = e
        .join(r.toDF("src", "r"), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), (col("r") / col("deg")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          round(lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("s"), lit(0.0)), 9).as("r"))
      val cutNext = cut(next)
      if (i > 1) release(r)
      r = cutNext
    }
    release(e)
    release(nodes)
    graft.Staging.registerPinned(edges.sparkSession, r)
  }

  /** Materialize the deduplicated corpus: drop every non-canonical
    * member of a duplicate cluster (canonical = the component's min
    * id), keep everything unclustered. The standard end-cap after
    * near-dup detection + [[connectedComponents]]: a left-anti join
    * against the kill set. No broadcast hint — the kill set scales with
    * the duplicate count (20% dups of a 100 TB corpus would OOM a
    * forced broadcast); the planner/AQE broadcasts when it fits and
    * falls back to a shuffled anti-join when it doesn't. */
  def dropDuplicates(corpus: DataFrame, idCol: String,
      labels: DataFrame): DataFrame = {
    val kill = labels.filter(col("comp") =!= col("id"))
      .select(col("id").as("_kill_id"))
    corpus.join(kill, corpus(idCol) === col("_kill_id"), "left_anti")
  }

  /** Keep-BEST dedup apply: per duplicate cluster keep the member with
    * the highest `scoreCol` (ties to the larger id) instead of the
    * arbitrary min-id canonical — the policy real training pipelines
    * use (keep the longest / highest-quality duplicate, not whichever
    * happened to sort first). Cost shape matches [[dropDuplicates]]:
    * the per-cluster argmax runs over the MEMBERS relation (labels ⋈
    * corpus — duplicate-count-sized, never the corpus), and the corpus
    * is touched only by the final planner-chosen anti-join. */
  def keepBest(corpus: DataFrame, idCol: String, labels: DataFrame,
      scoreCol: String): DataFrame = {
    val members = corpus
      .join(labels, corpus(idCol) === labels("id"))
      .select(col("comp"), col(idCol).as("_m"), col(scoreCol).as("_s"))
    val winners = members.groupBy(col("comp"))
      .agg(max_by(col("_m"), struct(col("_s"), col("_m"))).as("_keep"))
    val kill = members.join(winners, Seq("comp"))
      .filter(col("_m") =!= col("_keep"))
      .select(col("_m").as("_kill_id"))
    corpus.join(kill, corpus(idCol) === col("_kill_id"), "left_anti")
  }

  /** Survivorship MERGE (the record-linkage "golden record" end-cap,
    * the third member of the apply family after [[dropDuplicates]]
    * (keep min-id) and [[keepBest]] (keep one best member)): per
    * duplicate cluster emit ONE synthesized row whose fields come
    * from DIFFERENT members under per-field survivorship rules —
    *   golden_id   = the cluster's min id (the stable key),
    *   src_longest = the member holding the longest `lengthCol`
    *                 (ties to the larger id — [[keepBest]]'s
    *                 convention),
    *   len_longest = that longest value,
    *   modal_cat   = the most frequent `catCol` (ties to the
    *                 smallest value),
    *   n_members.
    * Unclustered rows pass through as their own golden record. Plan:
    * one members join (labels are duplicate-count-sized), two
    * cluster-keyed aggregations (the modal needs its own (cluster,
    * cat) count first), an anti-join for singletons — the corpus is
    * never shuffled wider than the duplicate set. */
  def goldenRecords(corpus: DataFrame, idCol: String, labels: DataFrame,
      lengthCol: String, catCol: String): DataFrame = {
    val members = corpus
      .join(labels, corpus(idCol) === labels("id"))
      .select(col("comp"), col(idCol).as("_m"),
        col(lengthCol).as("_len"), col(catCol).as("_cat"))
    val modal = members.groupBy(col("comp"), col("_cat"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("comp"))
      .agg(min_by(col("_cat"),
        struct((lit(0L) - col("_c")).as("n"), col("_cat"))).as("modal_cat"))
    val merged = members.groupBy(col("comp"))
      .agg(min(col("_m")).as("golden_id"),
        count(lit(1)).as("n_members"),
        max_by(col("_m"), struct(col("_len"), col("_m"))).as("src_longest"),
        max(col("_len")).as("len_longest"))
      .join(modal, "comp")
      .select(col("golden_id"), col("n_members"), col("src_longest"),
        col("len_longest"), col("modal_cat"))
    val singles = corpus
      .join(labels, corpus(idCol) === labels("id"), "left_anti")
      .select(col(idCol).as("golden_id"), lit(1L).as("n_members"),
        col(idCol).as("src_longest"), col(lengthCol).as("len_longest"),
        col(catCol).as("modal_cat"))
    merged.unionByName(singles)
  }

  /** Exact per-node triangle counts by DEGREE-ORDERED edge
    * orientation (the MapReduce triangle-counting discipline of Suri &
    * Vassilvitskii WWW'11 / Cohen's graph-join framework): each
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to the higher, so every triangle has exactly one source / middle /
    * sink under the induced total order and is enumerated ONCE — and,
    * crucially for scale, the out-degree of every node is bounded by
    * O(sqrt(|E|)) on the heavy end (a hub of degree d contributes
    * wedges only through its ~sqrt-bounded FORWARD neighbors, never
    * d² wedges), which is what keeps the wedge join from exploding on
    * skewed graphs where an id-ordered orientation would.
    *
    * Plan shape: dedupe to canonical undirected edges (one exchange),
    * degree aggregation (one exchange), the wedge equi-join on the
    * middle vertex, and a semi-join closing wedges against the edge
    * set — every step a hash join/agg on a key, nothing quadratic in
    * nodes. The per-node counts are orientation-INDEPENDENT, so an
    * oracle may replay the cheaper id-ordered orientation and must
    * agree row for row. Output: (id, n_tri) for every node of the
    * undirected graph, including triangle-free nodes at 0. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirect(edges, srcCol, dstCol)
    val deg = degrees(und)
    val o = und
      .join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t"))
    val wedges = o.as("e1").join(o.as("e2"), col("e1.t") === col("e2.s"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
    // close each wedge against the oriented edge set; semi-join keeps
    // one row per (x,y,z) triangle (oriented edges are distinct rows)
    val tri = wedges.join(
      o.select(col("s").as("x"), col("t").as("z")), Seq("x", "z"), "left_semi")
    val corners = tri.select(col("x").as("id"))
      .union(tri.select(col("y").as("id")))
      .union(tri.select(col("z").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("_n"))
    deg.select(col("id"))
      .join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("_n"), lit(0L)).as("n_tri"))
  }

  /** Personalized PageRank (the random-walk-with-restart ranking
    * behind "related items for THIS seed set", Haveliwala 2002):
    * identical sweep structure to [[pageRank]] but the teleport mass
    * (1−d) returns to the SEED nodes only —
    *   r' = (1−d)·1_{v∈seeds}/|S| + d·Σ_{u→v} r(u)/deg(u),
    * r0 = uniform over seeds. Same scale discipline (edge/node sets
    * lineage-cut once, rank table per sweep, round-9 pin after every
    * sweep so cross-engine double wobble can't accumulate); the seed
    * set is a driver-side constant (it IS the query, not data). */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Seq[Long], iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "PPR needs at least one seed")
    val e = cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = cut(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val isSeed = col("id").isin(seeds: _*)
    val seedMass = lit((1.0 - damping) / seeds.size)
    var r = nodes.withColumn("r",
      when(isSeed, lit(1.0 / seeds.size)).otherwise(lit(0.0)))
    (1 to iters).foreach { i =>
      val contrib = e
        .join(r.toDF("src", "r"), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), (col("r") / col("deg")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          round(when(isSeed, seedMass).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("s"), lit(0.0)), 9).as("r"))
      val cutNext = cut(next)
      if (i > 1) release(r)
      r = cutNext
    }
    release(e)
    release(nodes)
    graft.Staging.registerPinned(edges.sparkSession, r)
  }

  /** Fixed-round k-core peel: `rounds` synchronous rounds of "drop
    * every node whose CURRENT degree < k" over the undirected graph,
    * emitting the survivors with their residual degrees. With enough
    * rounds this is exactly the k-core (the maximal subgraph of
    * min-degree ≥ k — degeneracy ordering's workhorse, the spam-farm
    * / dense-community extractor); fixing the round count rather than
    * polling convergence keeps the result a pure function of the
    * data AND lets a SQL oracle replay each round verbatim (the
    * [[pageRank]]/[[labelPropagation]] discipline — convergence is
    * spec-territory, where KCoreSpec pins small-graph fixpoints).
    *
    * Per round: two semi-joins restrict the cut edge set to live
    * endpoints, one degree aggregation, one filter — all keyed
    * hash joins, live set lineage-cut per round (constant plan
    * depth). Output: (id, deg) of survivors, deg = degree within the
    * surviving subgraph after the LAST completed round's filter,
    * recomputed on the final live set and cut; that cut is registered
    * with [[graft.Staging.registerPinned]], every other one released. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    val und = cut(undirect(edges, srcCol, dstCol))
    var alive = degrees(und).where(col("deg") >= k).select(col("id"))
    (2 to rounds).foreach { i =>
      val live = und
        .join(alive.toDF("u"), Seq("u"), "left_semi")
        .join(alive.toDF("v"), Seq("v"), "left_semi")
      val next = degrees(live).where(col("deg") >= k).select(col("id"))
      val cutNext = cut(next)
      if (i > 2) release(alive)
      alive = cutNext
    }
    val finalEdges = und
      .join(alive.toDF("u"), Seq("u"), "left_semi")
      .join(alive.toDF("v"), Seq("v"), "left_semi")
    val out = cut(alive.join(degrees(finalEdges), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
    if (rounds >= 2) release(alive)
    release(und)
    graft.Staging.registerPinned(edges.sparkSession, out)
  }

  /** Exact core NUMBER per node (the degeneracy order — the r13
    * hand-off item that [[kCorePeel]]'s single-k survivors don't
    * give) via the H-INDEX ITERATION (Lü, Zhou, Zhang & Stanley 2016,
    * "The H-index of a network node and its relation to degree and
    * coreness"): start every node at its degree and repeatedly set
    *   c(v) ← H({c(u) : u ∼ v}),
    * the H-index of its neighbors' current values (the largest h with
    * ≥ h neighbors at c ≥ h). The sequence is monotone non-increasing
    * and its fixpoint is exactly coreness — and it converges in a
    * handful of sweeps (diameter-ish), where per-k peeling would need
    * Σ_k rounds(k) stages.
    *
    * Fixed `iters` budget (not convergence polling) keeps the result
    * a pure function of the data and lets the oracle replay every
    * sweep verbatim — the [[pageRank]]/[[kCorePeel]] discipline;
    * KCoreSpec pins the exact-coreness fixpoint against brute-force
    * peeling. Per sweep: ONE keyed join of the value table to the cut
    * bidirected edge list, one per-node rank window, one max
    * aggregation — the window partitions on the SAME id key the
    * aggregation groups on, so the sweep is one exchange; value table
    * lineage-cut per sweep (constant plan depth). H via ranks:
    * h = max over neighbors of min(rank_desc, c). */
  def kCoreNumbers(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame =
    kCoreNumbersConverged(edges, srcCol, dstCol, iters)._1

  /** Frontier size (ids) under which a worklist sweep switches to the
    * broadcast form — 1M longs ≈ 8 MB, the standard broadcast budget.
    * Above it a FULL synchronous sweep is the right plan anyway: a
    * frontier that big touches most of the graph, and the plain keyed
    * join beats three semi-join stages of bookkeeping. */
  private val KCoreBroadcastFrontier = 1000000L

  /** [[kCoreNumbers]] with convergence telemetry: (result, sweeps
    * actually run, converged). The round-15 DELTA-WORKLIST form —
    * sweep 1 recomputes every node (it must: all values are newly
    * initialized), but sweep t ≥ 2 recomputes ONLY nodes with a
    * neighbor whose value changed in sweep t−1. This is EXACT, not an
    * approximation: c(v) ← H({c(u) : u ∼ v}) reads nothing but the
    * neighbors' values, so a node with no changed neighbor would
    * recompute its own current value verbatim (the idempotence the
    * fixed-sweep oracle relies on) — after sweep ~3 most of the graph
    * is fixed and the full re-sweeps were pure waste. When a sweep
    * changes NOTHING the remaining budget is skipped outright: every
    * further sweep is the identity, so the early exit returns exactly
    * the `iters`-sweep result the oracle replays.
    *
    * CONVERGENCE CONTRACT: the returned values are exact coreness iff
    * `converged` is true (equivalently: a sweep ran with an empty
    * worklist inside the budget). On path/tree-like graphs the
    * H-iteration can need far more than a handful of sweeps (its
    * round count is diameter-bounded), so a caller pinning "exact per
    * node" semantics at a given scale must either check the flag or
    * spec it at that scale (GraphSpec asserts it on q_kcore_order's
    * own graph construction at the gate fixture).
    *
    * Sweeps come in two plans, chosen by the measured changed-count of
    * the previous sweep (tallied by accumulator inside the lineage-cut
    * job — the convergence check costs zero extra jobs):
    *   - FULL (frontier above the broadcast budget): one keyed join of
    *     the value table to the cut edge list + the per-id rank window
    *     and keyed max (same key — one exchange) + a keyed merge, the
    *     r14 shape;
    *   - WORKLIST (sweep ≥ 2 and changed set under the ~8 MB budget):
    *     only the changed-id set carries a broadcast HINT (it alone is
    *     bounded by the measured count); the frontier and its incident
    *     edges are degree-dependent, so their joins are hint-free and
    *     AQE broadcasts them exactly when their measured size allows —
    *     the common late-sweep case costs broadcast-probe time, a hub
    *     frontier degrades to keyed exchanges instead of an oversized
    *     forced broadcast.
    * The value table lineage-cuts per sweep (constant plan depth),
    * superseded cuts unpersist immediately, and the FINAL cut — which
    * the returned frame reads — registers with
    * [[graft.Staging.registerPinned]] so the session can release it
    * once consumers are done instead of pinning it for the process
    * (the r14 ADVICE leak). */
  private[graft] def kCoreNumbersConverged(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): (DataFrame, Int, Boolean) =
    kCoreNumbersConverged(edges, srcCol, dstCol, iters, LocalEdgeRows)

  private[graft] def kCoreNumbersConverged(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int,
      localEdgeRows: Long): (DataFrame, Int, Boolean) = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    val (e, eRows) = cutCounted(undirect(edges, srcCol, dstCol))
    // small-graph fast path ([[LocalEdgeRows]]): the gate reads the
    // count the cut job measured, so it costs no job of its own. The
    // canonical cut holds each edge once; the bound counts both
    // directions, as the distributed sweeps' edge list does, and [[Csr]]
    // links both
    if (e.schema("u").dataType == LongType && 2 * eRows <= localEdgeRows) {
      val g = new Csr(collectLongPairs(e)._1)
      release(e)
      val n = g.ids.length
      var c = Array.tabulate(n)(k => g.deg(k).toLong)
      val vals = new Array[Long](g.maxDeg)
      var sweeps = 0
      var changedAny = n > 0
      while (sweeps < iters && changedAny) {
        sweeps += 1
        val next = new Array[Long](n)
        var k = 0
        while (k < n) {
          val d = g.deg(k)
          var j = 0
          while (j < d) { vals(j) = c(g.nbr(g.start(k) + j)); j += 1 }
          java.util.Arrays.sort(vals, 0, d)
          // descending rank j+1 vs value: H = max_j min(j+1, vals_j)
          var h = 0L
          j = 0
          while (j < d) {
            val m = math.min(j + 1L, vals(d - 1 - j))
            if (m > h) h = m
            j += 1
          }
          next(k) = h
          k += 1
        }
        changedAny = !java.util.Arrays.equals(next, c)
        c = next
      }
      return (driverFrame(spark, StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("core", LongType, nullable = false))),
        g.ids, c, nullRow = false), sweeps, !changedAny)
    }
    val bi = cut(e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b"))))
    // a [[cut]] with the sweep's changed-count tallied by accumulator
    // DURING the materialization job — the convergence check costs zero
    // extra jobs (schema is (id, c, chg); chg at ordinal 2)
    def cutCounting(df: DataFrame): (DataFrame, Long) = {
      val acc = spark.sparkContext.longAccumulator
      val (counted, _) = materialize(df, df.queryExecution.toRdd.map { r =>
        val c = r.copy()
        if (c.getBoolean(2)) acc.add(1L)
        c
      })
      (counted, acc.value)
    }
    // value table (id, c, chg): chg marks values changed by the LAST
    // completed sweep; everything starts "changed" (freshly initialized
    // to the degree), so sweep 1 recomputes the whole graph
    var (cur, nChanged) = cutCounting(bi.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("c"))
      .withColumn("chg", lit(true)))
    var sweeps = 0
    var converged = nChanged == 0L // an edgeless graph is trivially done
    while (sweeps < iters && !converged) {
      sweeps += 1
      val worklist = sweeps > 1 && nChanged <= KCoreBroadcastFrontier
      val nb =
        if (!worklist) {
          // FULL synchronous sweep — always for sweep 1 (every value is
          // freshly initialized, the "frontier" is the whole graph) and
          // whenever the changed set outgrows the broadcast budget: one
          // keyed join of the value table to the cut edge list
          bi.join(cur.select(col("id").as("b"), col("c").as("cb")), "b")
            .select(col("a").as("id"), col("cb"))
        } else {
          // WORKLIST sweep: only nodes with a changed neighbor can move
          // (c(v) ← H(neighbor values) reads nothing else, so skipping
          // the rest is exact). Only changedIds carries an explicit
          // broadcast hint — it alone is bounded by the measured
          // nChanged (≤ 1M ids ≈ 8 MB). The frontier and its incident
          // edge set are degree-dependent and NOT bounded by nChanged,
          // so their joins stay hint-free: AQE picks broadcast when
          // their MEASURED size allows (the common late-sweep case) and
          // falls back to keyed exchanges when a hub frontier blows
          // them up — never a forced oversized broadcast.
          val changedIds = cur.where(col("chg")).select(col("id").as("b"))
          val frontier = bi
            .join(broadcast(changedIds), Seq("b"), "left_semi")
            .select(col("a")).distinct()
          val nbEdges = bi.join(frontier, Seq("a"), "left_semi")
          cur.join(nbEdges, cur("id") === nbEdges("b"))
            .select(nbEdges("a").as("id"), col("c").as("cb"))
        }
      val w = Window.partitionBy(col("id")).orderBy(col("cb").desc)
      val upd = nb.withColumn("_rn", row_number().over(w))
        .groupBy(col("id"))
        .agg(max(least(col("_rn").cast("long"), col("cb"))).as("_cn"))
      val step = cutCounting(cur.select(col("id"), col("c"))
        .join(upd, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("_cn"), col("c")).as("c"),
          (col("_cn").isNotNull && col("_cn") =!= col("c")).as("chg")))
      release(cur)
      cur = step._1
      nChanged = step._2
      converged = nChanged == 0L
    }
    release(e)
    release(bi)
    graft.Staging.registerPinned(spark, cur)
    (cur.select(col("id"), col("c").as("core")), sweeps, converged)
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * near-linear community detection baseline), `sweeps` rounds:
    * labels start as node ids; each sweep every node adopts its
    * neighborhood's MODE label — most frequent, ties to the smallest
    * label (the deterministic pin replacing the paper's random
    * tie-break, which would be irreproducible AND
    * partition-dependent). Differs from [[connectedComponents]]'
    * min-label propagation exactly where community structure lives:
    * a weak bridge between two dense blobs never outvotes a blob's
    * internal majority, so blobs keep distinct labels while min-label
    * would flood one id over the whole component.
    *
    * The canonical edge list is lineage-cut once, through
    * [[cutCounted]]; its measured size picks the path:
    *   - DRIVER (at most [[LocalEdgeRows]] bidirected rows and a
    *     `LongType` id): the cut's rows are collected as primitive long
    *     pairs and the same `sweeps` synchronous mode-label sweeps run
    *     on driver arrays, ties to the smallest label; a sweep that
    *     changes nothing ends the loop, since every further sweep is
    *     the identity. Nothing stays pinned.
    *   - DISTRIBUTED (above the bound, or any other id type), the
    *     [[pageRank]] scale discipline: label table cut per sweep
    *     (constant plan depth, superseded sweeps unpersisted); per
    *     sweep ONE join of the label table to the bidirected edge list
    *     + a (node, label) count + a per-node argmax via min_by over
    *     the (−count, label) struct — no window, partial-agg friendly,
    *     nothing quadratic.
    *     The last sweep's cut is registered with
    *     [[graft.Staging.registerPinned]].
    * Both paths return the same rows under the same schema
    * (RandomizedParitySpec pins it on tie-heavy graphs). Fixed sweep
    * counts (not convergence polling) keep the result a pure function
    * of the data — and the oracle replays each sweep verbatim. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      sweeps: Int): DataFrame =
    labelPropagation(edges, srcCol, dstCol, sweeps, LocalEdgeRows)

  private[graft] def labelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, sweeps: Int, localEdgeRows: Long): DataFrame = {
    val (e, eRows) = cutCounted(undirect(edges, srcCol, dstCol))
    val u = e.schema("u")
    // the cut holds each undirected edge once; the bound counts both
    // directions, as the distributed path's edge list does
    if (u.dataType == LongType && 2 * eRows <= localEdgeRows) {
      val (pairs, _) = collectLongPairs(e)
      release(e)
      val (ids, labels) = modeLabelSweeps(pairs, sweeps)
      return driverFrame(edges.sparkSession,
        StructType(Seq(u.copy(name = "id"),
          StructField("label", LongType, nullable = true))),
        ids, labels, nullRow = false)
    }
    val bi = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    var lab = bi.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to sweeps).foreach { i =>
      val counts = bi
        .join(lab.toDF("b", "nl"), "b")
        .groupBy(col("a"), col("nl")).agg(count(lit(1)).as("c"))
      val next = counts.groupBy(col("a"))
        .agg(min_by(col("nl"),
          struct((lit(0L) - col("c")).as("n"), col("nl"))).as("label"))
        .select(col("a").as("id"), col("label"))
      val cutNext = cut(next)
      if (i > 1) release(lab)
      lab = cutNext
    }
    release(e)
    graft.Staging.registerPinned(edges.sparkSession, lab)
  }

  /** `sweeps` synchronous label-propagation sweeps over packed
    * canonical (u, v) id pairs (see [[collectLongPairs]]; no nulls, no
    * self-loops — [[undirect]] drops them): labels start as ids, and
    * each sweep every node adopts its neighbors' most frequent label,
    * ties to the smallest. A sweep that changes nothing ends the loop,
    * since every further sweep is the identity. Returns every id,
    * ascending, with its label. Labels are ranks in [[Csr]]'s id
    * array, so they stay primitive `Int`s and rank order is id
    * order. */
  private def modeLabelSweeps(pairs: Array[Long],
      sweeps: Int): (Array[Long], Array[Long]) = {
    val g = new Csr(pairs)
    val n = g.ids.length
    var lab = Array.tabulate(n)(identity)
    val votes = new Array[Int](g.maxDeg)
    var sweep = 0
    var changed = true
    while (sweep < sweeps && changed) {
      val next = new Array[Int](n)
      var k = 0
      while (k < n) {
        // the neighbors' labels, sorted: the longest run is the mode,
        // and the first longest run the smallest label among ties
        val d = g.deg(k)
        var j = 0
        while (j < d) { votes(j) = lab(g.nbr(g.start(k) + j)); j += 1 }
        java.util.Arrays.sort(votes, 0, d)
        var best = votes(0)
        var bestN = 0
        j = 0
        while (j < d) {
          var run = 1
          while (j + run < d && votes(j + run) == votes(j)) run += 1
          if (run > bestN) { best = votes(j); bestN = run }
          j += run
        }
        next(k) = best
        k += 1
      }
      changed = !java.util.Arrays.equals(next, lab)
      lab = next
      sweep += 1
    }
    (g.ids, lab.map(l => g.ids(l)))
  }

  /** An undirected graph on the driver in compressed sparse rows, built
    * from packed canonical (u, v) id pairs (see [[collectLongPairs]];
    * each edge once, linked both ways). Node k is `ids(k)`, ids
    * ascending, so rank order is id order; its neighbors' ranks are
    * `nbr(start(k))` until `nbr(start(k + 1))`. */
  private final class Csr(pairs: Array[Long]) {
    val ids: Array[Long] = distinctSorted(pairs)
    val start = new Array[Int](ids.length + 1)
    val nbr = new Array[Int](pairs.length)
    private val ends = pairs.map(java.util.Arrays.binarySearch(ids, _))
    ends.foreach(k => start(k + 1) += 1)
    val maxDeg: Int = if (ids.isEmpty) 0 else start.max
    ids.indices.foreach(k => start(k + 1) += start(k))
    private val fill = start.clone()
    ends.indices.foreach { i =>
      // ends(i) and its pair partner ends(i ^ 1)
      nbr(fill(ends(i))) = ends(i ^ 1)
      fill(ends(i)) += 1
    }
    def deg(k: Int): Int = start(k + 1) - start(k)
  }

  /** Newman modularity of a community assignment, per community —
    * the quality score for [[labelPropagation]] (is this partition
    * better than random?):
    *   Q_c = L_c/m − (d_c / 2m)²,   Q = Σ_c Q_c
    * with m the undirected edge count, L_c the intra-community edge
    * count and d_c the community's total degree. Every statistic is
    * an exact integer from TWO community-keyed aggregations (the
    * edge relation tagged with both endpoint labels); the only
    * doubles are the two final divisions, so the score is
    * reproducible to the bit across engines and partitionings —
    * never an all-pairs or per-node iteration.
    *
    * Output: (comm, n_nodes, l_intra, d_tot, q6) sorted by comm;
    * Σ q6 is the graph's modularity (≈0 random, >0.3 strong). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    val e = undirect(edges, srcCol, dstCol)
    val tagged = e
      .join(labels.toDF("u", "cu"), "u")
      .join(labels.toDF("v", "cv"), "v")
    val m = e.agg(count(lit(1)).as("m"))
    val intra = tagged.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("comm")).agg(count(lit(1)).as("l_intra"))
    // each edge adds 1 to each ENDPOINT's community degree mass
    val deg = tagged.select(col("cu").as("comm"))
      .unionAll(tagged.select(col("cv").as("comm")))
      .groupBy(col("comm")).agg(count(lit(1)).as("d_tot"))
    val nodes = labels.groupBy(col("label").as("comm"))
      .agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(deg, Seq("comm"), "left")
      .join(intra, Seq("comm"), "left")
      .crossJoin(broadcast(m)) // 1-row scalar
      .select(col("comm"), col("n_nodes"),
        coalesce(col("l_intra"), lit(0L)).as("l_intra"),
        coalesce(col("d_tot"), lit(0L)).as("d_tot"),
        (round(
          coalesce(col("l_intra"), lit(0L)).cast("double") /
            col("m").cast("double") -
          (coalesce(col("d_tot"), lit(0L)).cast("double") /
            (lit(2L) * col("m")).cast("double")) *
          (coalesce(col("d_tot"), lit(0L)).cast("double") /
            (lit(2L) * col("m")).cast("double")), 6) + lit(0.0)).as("q6"))
  }

  /** Canonical undirected edge set: self-loops dropped, (u, v) with
    * u < v, duplicates and reversals collapsed. One exchange. */
  private def undirect(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Undirected degrees off a canonical edge set. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Local clustering coefficient per node: cc = 2·tri / (deg·(deg−1))
    * — how close each node's neighborhood is to a clique, THE local
    * density score community detection and spam/bot analysis read
    * first (a crawler ring has cc ≈ 1; a hub of unrelated links cc ≈
    * 0). Composes a PRECOMPUTED/staged [[triangleCounts]] relation
    * over the same edges with the degree relation — callers gating
    * both the counts and the coefficients over one graph share the
    * wedge join (the expensive half; the degree aggregation here is
    * one groupBy). One extra groups-sized join, one exact integer
    * product in the denominator, one IEEE division rounded to 6
    * decimals (degree-<2 nodes emit 0 by convention — no division).
    * Output: (id, deg, n_tri, cc6). */
  def clusteringCoefficientsFromTriangles(tri: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    tri.join(degrees(undirect(edges, srcCol, dstCol)), "id")
      .select(col("id"), col("deg"), col("n_tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * col("n_tri").cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6)).as("cc6"))
}
