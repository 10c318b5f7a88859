package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct, lit, raise_error, udf, when}

class GraphSpec extends SparkSpec {

  /** `connectedComponents(_, "d1", "d2")` on both paths: the default
    * call, which takes the driver path for these small graphs, and the
    * distributed rounds forced with `localEdgeRows = 0`. */
  private val ccPaths: Seq[(String, DataFrame => DataFrame)] = Seq(
    "driver" -> (e => Graph.connectedComponents(e, "d1", "d2")),
    "distributed" -> (e => Graph.connectedComponents(e, "d1", "d2",
      maxIter = 20, localEdgeRows = 0L)))

  test("connectedComponents labels each node with its min reachable id") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} (a path — needs propagation, not one hop),
    // {10,11}, {20,21,22} (a triangle), isolated-from-each-other pairs
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
    ).toDF("d1", "d2")
    for ((path, cc) <- ccPaths)
      assert(
        cc(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(
          1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
          10L -> 10L, 11L -> 10L,
          20L -> 20L, 21L -> 20L, 22L -> 20L), path)
    // a second graph, its returned labels read twice (count, then
    // collect) — on the distributed path both reads come off the
    // final round's cut
    for ((path, cc) <- ccPaths) {
      val small = cc(
        Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("d1", "d2"))
      assert(small.count() === 6, path)
      assert(small.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
        path)
    }
  }

  test("connectedComponents: a long path converges within the diameter bound") {
    val s = spark
    import s.implicits._
    // path 0-1-2-...-9: min label must travel 9 hops, one distributed
    // round each (forced past the driver path: every round must cut, or
    // the nested join plan aborts analysis)
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Graph.connectedComponents(edges, "d1", "d2", maxIter = 20,
        localEdgeRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(0L))
    assert(comp.keySet === (0L to 9L).toSet)
  }

  test("connectedComponents pins only its result — superseded rounds and " +
      "the edge list are unpersisted") {
    val s = spark
    import s.implicits._
    // the 9-hop path forces many distributed rounds, so a per-round
    // leak would show up as many residual persistent RDDs, not one
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val comp = Graph.connectedComponents(edges, "d1", "d2", maxIter = 20,
      localEdgeRows = 0L)
    assert(comp.collect().map(_.getLong(1)).toSet === Set(0L))
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    // exactly the returned labels' own blocks — its lineage is
    // truncated, so it must stay pinned until the session ends
    assert(leaked.size === 1,
      s"expected only the result to stay cached, found ${leaked.size} RDDs")
  }

  test("connectedComponents: the driver path pins nothing — the edge cut " +
      "is released and the result holds no blocks") {
    val s = spark
    import s.implicits._
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val comp = Graph.connectedComponents(edges, "d1", "d2")
    assert(comp.collect().map(_.getLong(1)).toSet === Set(0L))
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("connectedComponents: a small graph whose diameter exceeds maxIter " +
      "gets exact labels on the driver path; the distributed path throws") {
    val s = spark
    import s.implicits._
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Graph.connectedComponents(edges, "d1", "d2", maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === (0L to 9L).map(_ -> 0L).toMap)
    val err = intercept[IllegalStateException](Graph.connectedComponents(
      edges, "d1", "d2", maxIter = 2, localEdgeRows = 0L))
    assert(err.getMessage.contains("did not converge in 2 rounds"))
  }

  test("connectedComponents evaluates its edge list once") {
    val s = spark
    // every edge row the upstream produces passes through the counting
    // UDF; a range, not local rows, so no projection is folded at plan
    // time. On the distributed path the 9-hop path takes 9 rounds, and
    // every one must read the edge cut, not re-scan `edges`
    for ((path, cc) <- ccPaths) {
      val rowsOut = sc.longAccumulator(s"cc edge rows, $path")
      val counted = udf { (x: Long) => rowsOut.add(1); x }
      val edges = s.range(0L, 9L)
        .select(counted(col("id")).as("d1"), (col("id") + 1).as("d2"))
      val comp = cc(edges)
      assert(comp.collect().map(_.getLong(1)).toSet === Set(0L), path)
      assert(rowsOut.value === 9L, s"$path: the edge-list cut must scan " +
        "its upstream once, not once per direction or round")
    }
  }

  /** Persistent RDDs that `op` leaves behind once the session's pins are
    * released: an operator must register every cut it does not release. */
  private def leakedAfterEvict(op: => Unit): Set[Int] = {
    graft.Staging.evictSession(spark)
    val before = sc.getPersistentRDDs.keySet
    op
    graft.Staging.evictSession(spark)
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  private def leakGraph = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
  }

  test("pageRank: once the session is evicted, a call leaves no pinned blocks") {
    assert(leakedAfterEvict(
      Graph.pageRank(leakGraph, "s", "d", iters = 3).collect()).isEmpty)
  }

  test("personalizedPageRank: once the session is evicted, a call leaves " +
      "no pinned blocks") {
    assert(leakedAfterEvict(Graph.personalizedPageRank(
      leakGraph, "s", "d", Seq(1L), iters = 3).collect()).isEmpty)
  }

  test("labelPropagation: once the session is evicted, a call leaves no " +
      "pinned blocks") {
    assert(leakedAfterEvict(
      Graph.labelPropagation(leakGraph, "s", "d", sweeps = 3).collect()).isEmpty)
  }

  test("labelPropagation: the forced distributed path also leaves no " +
      "pinned blocks once the session is evicted") {
    assert(leakedAfterEvict(Graph.labelPropagation(leakGraph, "s", "d",
      sweeps = 3, localEdgeRows = 0L).collect()).isEmpty)
  }

  test("kCorePeel: once the session is evicted, a call leaves no pinned " +
      "blocks") {
    assert(leakedAfterEvict(
      Graph.kCorePeel(leakGraph, "s", "d", k = 2, rounds = 3).collect()).isEmpty)
  }

  test("cut: a failing materialization rethrows and pins nothing") {
    val s = spark
    val before = s.sparkContext.getPersistentRDDs.keySet
    // a range, not a local relation: the optimizer would evaluate a
    // projection over local rows itself, failing before any job runs
    val bad = s.range(1L, 4L).toDF("x")
      .select(when(col("x") === 2L, raise_error(lit("cut boom")))
        .otherwise(col("x")).as("x"))
    val err = intercept[Exception](Graph.cut(bad))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("cut boom")),
      s"the job's own failure must surface, got: $err")
    assert(s.sparkContext.getPersistentRDDs.keySet === before,
      "a failed cut must drop its checkpoint marking")
  }

  test("release frees a cut's blocks and refuses any other frame") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val c = Graph.cut(Seq(1L, 2L, 3L).toDF("x"))
    assert(c.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
    // neither an uncut frame nor a projection of a cut names the blocks
    intercept[IllegalArgumentException](Graph.release(Seq(1L).toDF("x")))
    intercept[IllegalArgumentException](Graph.release(c.select(col("x"))))
    Graph.release(c)
    Graph.release(c) // a second release is harmless
    assert(s.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("keepBest keeps the top-scoring cluster member, ties to larger id, " +
      "unclustered untouched") {
    val s = spark
    import s.implicits._
    // clusters {1,2,3} and {10,11}; 20 unclustered
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = Graph.connectedComponents(edges, "d1", "d2")
    val corpus = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),   // 2 and 3 tie on score -> 3 wins
      (10L, 7L), (11L, 4L),           // 10 wins on score
      (20L, 1L))                      // unclustered, lowest score, kept
      .toDF("doc_id", "score")
    val kept = Graph.keepBest(corpus, "doc_id", labels, "score")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(3L, 10L, 20L))
    // contrast with the min-id policy: dropDuplicates would keep 1
    val minId = Graph.dropDuplicates(corpus, "doc_id", labels)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(minId === Seq(1L, 10L, 20L))
  }

  test("pageRank: 2-cycle is the 0.5/0.5 fixed point; dangling sink " +
      "accumulates; mass conserved when every node has out-edges") {
    val s2 = spark
    import s2.implicits._
    // A<->B cycle: r = 0.5 each is the exact fixed point of the sweep
    val cyc = Graph.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cyc(1L) === 0.5 && cyc(2L) === 0.5)
    // A -> B only: after one sweep r(A) = 0.15/2, r(B) = 0.075 + 0.85*0.5
    val chain = Graph.pageRank(
      Seq((1L, 2L)).toDF("s", "d"), "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(chain(1L) === 0.075)
    assert(chain(2L) === 0.5)
  }

  test("pageRank: plan depth constant and bounded residue at iters=10") {
    val s2 = spark
    import s2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("s", "d")
    val before = s2.sparkContext.getPersistentRDDs.keySet
    val at10 = Graph.pageRank(edges, "s", "d", iters = 10)
    val depth10 = at10.queryExecution.optimizedPlan
      .numberedTreeString.linesIterator.size
    val at1 = Graph.pageRank(edges, "s", "d", iters = 1)
    val depth1 = at1.queryExecution.optimizedPlan
      .numberedTreeString.linesIterator.size
    // per-sweep lineage cut: the returned plan is the last sweep's
    // checkpointed leaf, not a 10-deep join nest
    assert(depth10 === depth1, s"plan grew with iterations: $depth10 vs $depth1")
    // residue: superseded sweeps and the pre-loop edge/node cuts are
    // released; only the two returned rank tables may stay pinned
    val leaked = s2.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"only the returned rank tables may stay cached, found $leaked")
    // ranks still sum to ~1 (every node here has out-edges, so the
    // simplified variant conserves mass)
    val total = at10.agg(org.apache.spark.sql.functions.sum("r"))
      .head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"mass not conserved: $total")
  }

  test("triangleCounts: K4 — every node closes C(3,2)=3 triangles") {
    val s2 = spark
    import s2.implicits._
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("s", "d")
    val r = Graph.triangleCounts(k4, "s", "d").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: duplicates, reversed edges, and self-loops " +
      "do not inflate; triangle-free nodes emit zero") {
    val s2 = spark
    import s2.implicits._
    // one triangle 1-2-3 (each edge also reversed + duplicated), a
    // self-loop at 1, and a pendant path 3-4-5
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L),
      (3L, 1L), (1L, 3L), (1L, 1L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val r = Graph.triangleCounts(edges, "s", "d").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
  }

  test("triangleCounts: matches brute-force enumeration on a random graph") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(41)
    val und = (for { a <- 1L to 40L; b <- 1L to 40L
      if a < b && rnd.nextDouble() < 0.15 } yield (a, b)).toSet
    // feed in random orientation
    val edges = und.toSeq.map { case (a, b) =>
      if (rnd.nextBoolean()) (a, b) else (b, a) }.toDF("s", "d")
    val got = Graph.triangleCounts(edges, "s", "d").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def has(a: Long, b: Long) = und.contains((math.min(a, b), math.max(a, b)))
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val brute = nodes.map { n =>
      val nbrs = nodes.filter(m => m != n && has(n, m)).toSeq
      n -> (for { i <- nbrs.indices; j <- i + 1 until nbrs.size
        if has(nbrs(i), nbrs(j)) } yield 1).size.toLong
    }.toMap
    assert(got === brute)
  }

  test("goldenRecords: per-field survivorship — min-id key, longest " +
      "source with larger-id ties, modal category with smaller ties; " +
      "singletons pass through") {
    val s2 = spark
    import s2.implicits._
    val corpus = Seq(
      // cluster {1,2,3}: longest is 2 (len 90); langs en,en,de → en
      (1L, 50L, "en"), (2L, 90L, "en"), (3L, 70L, "de"),
      // cluster {10,11}: equal lengths → larger id 11 is the source;
      // lang tie de/en 1-1 → smaller 'de'
      (10L, 40L, "en"), (11L, 40L, "de"),
      // singleton
      (99L, 5L, "fr")).toDF("id0", "len", "lang")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)).toDF("id", "comp")
    val r = Graph.goldenRecords(corpus, "id0", labels, "len", "lang")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getString(4))).toSet
    assert(r === Set(
      (1L, 3L, 2L, 90L, "en"),
      (10L, 2L, 11L, 40L, "de"),
      (99L, 1L, 99L, 5L, "fr")))
  }

  test("personalizedPageRank: mass concentrates near the seeds; total " +
      "teleport goes to seeds only; plan depth constant") {
    val s2 = spark
    import s2.implicits._
    // two K3s joined by one bridge; seed in blob 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
        (4L, 5L), (5L, 6L), (6L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) } // bidirect
      .toDF("s", "d")
    val r = Graph.personalizedPageRank(edges, "s", "d", Seq(1L), iters = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // the seed holds the most rank; blob-1 members outrank blob-2's
    assert(r(1L) === r.values.max)
    assert(r(2L) > r(5L) && r(3L) > r(5L))
    // un-personalized pageRank on the same graph gives 4,5,6 real mass
    val d1 = Graph.personalizedPageRank(edges, "s", "d", Seq(1L), 1)
      .queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    val d4 = Graph.personalizedPageRank(edges, "s", "d", Seq(1L), 4)
      .queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(d1 === d4)
  }

  test("kCorePeel: peels the pendant tree, keeps the clique; cascade " +
      "effect needs the later rounds; fixpoint matches brute force") {
    val s2 = spark
    import s2.implicits._
    // K4 core {1..4} + a chain 4-5-6-7 that unravels at k=2 only
    // through the cascade (7 drops, then 6, then 5)
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("s", "d")
    def survivors(rounds: Int) =
      Graph.kCorePeel(edges, "s", "d", k = 2, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round only drops 7 (deg 1); 5 and 6 still look alive
    assert(survivors(1).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // by round 3 the chain has unravelled to the true 2-core = K4
    val fix = survivors(3)
    assert(fix.keySet === Set(1L, 2L, 3L, 4L))
    assert(fix.values.toSet === Set(3L)) // K4 residual degrees
    // extra rounds are a no-op at the fixpoint
    assert(survivors(5) === fix)
  }

  test("labelPropagation: two dense blobs keep distinct labels across a " +
      "bridge (where min-label CC would flood one id)") {
    val s2 = spark
    import s2.implicits._
    // K4 on 1..4, K4 on 11..14, single bridge 4-11
    val blob1 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val blob2 = for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)
    val edges = (blob1 ++ blob2 ++ Seq((4L, 11L))).toDF("s", "d")
    val lab = Graph.labelPropagation(edges, "s", "d", sweeps = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // blob 1 converges to label 1; blob 2's internal majority (votes
    // from 12,13,14) holds 11's blob at its own minimum even though
    // the bridge delivers label 1 to node 11
    assert(lab(1L) === 1L && lab(2L) === 1L && lab(3L) === 1L)
    assert(Set(12L, 13L, 14L).forall(n => lab(n) === 11L))
    // CC on the same graph gives ONE component — the contrast that
    // makes LPA a community op, not a component op
    val cc = Graph.connectedComponents(
      edges.select(col("s").as("a"), col("d").as("b")), "a", "b")
    assert(cc.select(countDistinct(col("comp"))).head().getLong(0) === 1L)
  }

  test("personalizedPageRank: matches a brute-force sweep computation " +
      "on random graphs (round-9 pins included)") {
    val s2 = spark
    import s2.implicits._
    for (seed <- Seq(11, 37)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(20).toLong + 1, rnd.nextInt(20).toLong + 1))
        .filter(e => e._1 != e._2).distinct
      val seeds = Seq(1L, 2L)
      val got = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
          seeds, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // brute: identical sweep structure with the same round-9 pin
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      def r9(x: Double) = BigDecimal(x).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      var rank = nodes.map(n =>
        n -> (if (seeds.contains(n)) 1.0 / seeds.size else 0.0)).toMap
      (1 to 2).foreach { _ =>
        val contrib = edges.groupBy(_._2).view.mapValues(_.map(e =>
          rank(e._1) / outDeg(e._1)).sum).toMap
        rank = nodes.map { n =>
          val tele = if (seeds.contains(n)) 0.15 / seeds.size else 0.0
          n -> r9(tele + 0.85 * contrib.getOrElse(n, 0.0))
        }.toMap
      }
      nodes.foreach { n =>
        assert(math.abs(got(n) - rank(n)) < 2e-9, s"seed=$seed node $n")
      }
    }
  }

  test("kCorePeel: matches a brute-force fixpoint peel on random graphs") {
    val s2 = spark
    import s2.implicits._
    for (seed <- Seq(5, 17, 23)) {
      val rnd = new scala.util.Random(seed)
      val und = (for { a <- 1L to 30L; b <- 1L to 30L
        if a < b && rnd.nextDouble() < 0.18 } yield (a, b)).toSet
      val edges = und.toSeq.toDF("s", "d")
      val got = Graph.kCorePeel(edges, "s", "d", k = 3, rounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force to fixpoint
      var alive = und.flatMap(e => Seq(e._1, e._2))
      var done = false
      while (!done) {
        val deg = alive.map(n => n -> und.count { case (u, v) =>
          (u == n && alive(v)) || (v == n && alive(u)) }).toMap
        val next = alive.filter(deg(_) >= 3)
        done = next == alive
        alive = next
      }
      val brute = alive.map(n => n -> und.count { case (u, v) =>
        (u == n && alive(v)) || (v == n && alive(u)) }.toLong).toMap
      assert(got === brute, s"seed $seed")
    }
  }

  test("kCoreNumbers: H-index iteration reaches the exact coreness " +
      "fixpoint (brute-force peeling) on random graphs; clique+pendant " +
      "reads the textbook values") {
    val s2 = spark
    import s2.implicits._
    // K5 (core 4) with a pendant chain (core 1) and a triangle (core 2)
    val fixed = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L), // K5
      (5L, 6L), (6L, 7L),                     // pendant chain
      (8L, 9L), (9L, 10L), (8L, 10L))         // triangle
    val gotFixed = Graph.kCoreNumbers(fixed.toDF("s", "d"), "s", "d", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFixed === Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L,
      5L -> 4L, 6L -> 1L, 7L -> 1L, 8L -> 2L, 9L -> 2L, 10L -> 2L))
    for (seed <- Seq(5, 17, 23)) {
      val rnd = new scala.util.Random(seed)
      val und = (for { a <- 1L to 30L; b <- 1L to 30L
        if a < b && rnd.nextDouble() < 0.18 } yield (a, b)).toSet
      val edges = und.toSeq.toDF("s", "d")
      val got = Graph.kCoreNumbers(edges, "s", "d", iters = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the small-graph local path (taken above) must be bit-equal to
      // the distributed worklist sweeps forced via localEdgeRows = 0
      val distributed = Graph.kCoreNumbersConverged(edges, "s", "d",
          iters = 30, localEdgeRows = 0L)
        ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distributed === got, s"local vs distributed, seed $seed")
      // brute-force coreness: for k = 1.. peel to fixpoint; a node's
      // core is the largest k whose k-core contains it
      val nodes = und.flatMap(e => Seq(e._1, e._2))
      def kcore(k: Int): Set[Long] = {
        var alive = nodes
        var done = false
        while (!done) {
          val deg = alive.map(n => n -> und.count { case (u, v) =>
            (u == n && alive(v)) || (v == n && alive(u)) }).toMap
          val next = alive.filter(deg(_) >= k)
          done = next == alive
          alive = next
        }
        alive
      }
      val brute = nodes.map { n =>
        n -> (1 to 30).filter(k => kcore(k)(n)).max.toLong
      }.toMap
      assert(got === brute, s"seed $seed")
    }
  }

  test("kCoreNumbers: the delta-worklist iteration CONVERGES inside the " +
      "gate budget on q_kcore_order's own graph construction, and the " +
      "early-exited result equals running the full budget") {
    import org.apache.spark.sql.functions.{col => f}
    val edges = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select((f("event_id") % 499).as("src"),
        (f("event_id") % (f("event_id") % 359 + 2) + 500).as("dst"))
    val (res, sweeps, converged) =
      Graph.kCoreNumbersConverged(edges, "src", "dst", iters = 20)
    assert(converged,
      s"q_kcore_order's graph must converge within 20 sweeps (ran $sweeps)" +
        " — the 'exact per-node core numbers' claim depends on it")
    assert(sweeps < 20, "early exit should fire before the budget")
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a LARGER budget must return the identical fixpoint (idempotence)
    val more = Graph.kCoreNumbers(edges, "src", "dst", iters = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === more)
    // the DISTRIBUTED worklist sweeps (forced past the local fast
    // path) must also converge early and agree bit-for-bit
    val (dRes, dSweeps, dConverged) =
      Graph.kCoreNumbersConverged(edges, "src", "dst", iters = 20,
        localEdgeRows = 0L)
    assert(dConverged && dSweeps == sweeps)
    assert(dRes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === got)
    graft.Staging.releasePinned(spark)
  }

  test("labelPropagation: matches a brute-force synchronous mode sweep") {
    val s2 = spark
    import s2.implicits._
    for (seed <- Seq(7, 29)) {
      val rnd = new scala.util.Random(seed)
      val und = (for { a <- 1L to 25L; b <- 1L to 25L
        if a < b && rnd.nextDouble() < 0.2 } yield (a, b)).toSet
      val got = Graph.labelPropagation(und.toSeq.toDF("s", "d"),
          "s", "d", sweeps = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute: synchronous sweeps, mode label with (count desc, label
      // asc) tie-break, neighbors only
      val nodes = und.flatMap(e => Seq(e._1, e._2))
      def nbrs(n: Long) = und.collect {
        case (u, v) if u == n => v
        case (u, v) if v == n => u
      }
      var lab = nodes.map(n => n -> n).toMap
      (1 to 3).foreach { _ =>
        lab = nodes.map { n =>
          val votes = nbrs(n).toSeq.map(lab).groupBy(identity)
            .view.mapValues(_.size).toMap
          n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      assert(got === lab, s"seed $seed")
    }
  }

  test("labelPropagation: plan depth constant in sweeps; deterministic " +
      "under repartitioning") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).toDF("s", "d")
    // plan depth is a property of the distributed sweeps: force them
    def depth(sweeps: Int) = Graph.labelPropagation(edges, "s", "d", sweeps,
        localEdgeRows = 0L)
      .queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    val d1 = depth(1)
    val d4 = depth(4)
    assert(d1 === d4, s"plan grew with sweeps: $d4 vs $d1")
    // both paths: the driver one (default) and the forced distributed one
    def labels(parts: Int, forced: Boolean) = {
      val e = edges.repartition(parts)
      (if (forced) Graph.labelPropagation(e, "s", "d", 2, localEdgeRows = 0L)
       else Graph.labelPropagation(e, "s", "d", 2))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    for (forced <- Seq(false, true))
      assert(labels(1, forced) === labels(9, forced), s"forced = $forced")
  }

  test("clusteringCoefficients: K4 nodes read 1.0; a path node reads 0; " +
      "pendant (deg 1) reads 0 without dividing") {
    val s2 = spark
    import s2.implicits._
    // K4 on 1..4 plus a pendant 4-5 and a path 5-6
    val edges = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b }
      yield (a, b)) ++ Seq((4L, 5L), (5L, 6L))).toDF("s", "d")
    val r = Graph.clusteringCoefficientsFromTriangles(
        Graph.triangleCounts(edges, "s", "d"), edges, "s", "d").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3))).toMap
    // 1..3: deg 3 inside K4, all 3 neighbor pairs linked -> cc 1.0
    assert(r(1L) === ((3L, 3L, 1.0)))
    assert(r(2L) === ((3L, 3L, 1.0)))
    assert(r(3L) === ((3L, 3L, 1.0)))
    // 4: deg 4 (K4 + pendant), still 3 triangles of 6 pairs -> 0.5
    assert(r(4L) === ((4L, 3L, 0.5)))
    // 5: deg 2, neighbors 4 and 6 unlinked -> 0; 6: deg 1 -> 0
    assert(r(5L) === ((2L, 0L, 0.0)))
    assert(r(6L) === ((1L, 0L, 0.0)))
  }

  test("triangleCounts: output covers exactly the non-isolated node set") {
    val s2 = spark
    import s2.implicits._
    val edges = Seq((1L, 2L), (7L, 7L)).toDF("s", "d")
    // 7's only edge is a self-loop → dropped entirely; 1 and 2 emit 0
    val r = Graph.triangleCounts(edges, "s", "d").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 0L, 2L -> 0L))
  }

  test("modularity: two bridged triangles, hand-computed Q per community") {
    val s = spark
    import s.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3–4; m = 7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("s", "d")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "label")
    val r = Graph.modularity(edges, "s", "d", labels)
      .orderBy("comm").collect()
    // each triangle: L_c = 3, d_c = 7 (six triangle ends + one bridge end)
    // Q_c = 3/7 − (7/14)² = 0.428571 − 0.25 = 0.178571
    for (row <- r) {
      assert(row.getLong(1) === 3L)          // n_nodes
      assert(row.getLong(2) === 3L)          // l_intra
      assert(row.getLong(3) === 7L)          // d_tot
      assert(row.getDouble(4) === 0.178571)  // q6
    }
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 4L))
  }

  test("modularity: the whole graph as one community scores exactly 0") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val labels = Seq(1L, 2L, 3L, 4L).map(i => (i, 0L)).toDF("id", "label")
    val r = Graph.modularity(edges, "s", "d", labels).collect()
    assert(r.length === 1)
    assert(r.head.getDouble(4) === 0.0) // L/m = 1, (d/2m)² = 1
  }

  test("modularity: duplicate/reversed edges collapse before the stats") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "label")
    val r = Graph.modularity(edges, "s", "d", labels)
      .orderBy("comm").collect()
    // canonical edges: (1,2), (2,3) → m = 2; comm 1: L=1, d=3
    assert(r.map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).toSeq ===
      Seq((1L, 1L, 3L), (3L, 0L, 1L)))
  }
}
