package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized cross-checks of the two newest distributed algorithms
  * against independent local reference implementations — seeded, so
  * failures reproduce. */
class RandomizedParitySpec extends SparkSpec {

  test("connectedComponents equals local union-find on random graphs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min reachable id per node = min over its component's members
      val byRoot = touched.groupBy(id => find(id.toInt))
      val expected = byRoot.values.flatMap { members =>
        val m = members.min
        members.map(_ -> m)
      }.toMap
      val got = Graph.connectedComponents(
          edges.toDF("d1", "d2"), "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  /** `df` came off a driver path: no leaf of its plan reads the blocks
    * of a [[Graph.cut]], as the distributed paths' final rounds do. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRDD => !r.rdd.isCheckpointed
      case _ => false
    }

  /** `op` on the driver path (no effective bound) against `op` with the
    * distributed path forced: same schema — names, types, nullability —
    * and the same rows. A driver result is one partition, the
    * partitioning AQE gives the distributed result at these sizes. The
    * forcing bound is −1, not 0, because an empty graph's 0 rows are
    * "at or under" a bound of 0. */
  private def assertPathParity(what: String, expectLocal: Boolean = true)(
      op: Long => DataFrame): Unit = {
    val driver = op(Long.MaxValue)
    val distributed = op(-1L)
    assert(isLocal(driver) === expectLocal, s"$what: driver-path plan")
    assert(!isLocal(distributed), s"$what: forced-distributed plan")
    if (expectLocal)
      assert(driver.rdd.getNumPartitions === 1, s"$what: driver partitions")
    assert(driver.schema === distributed.schema, what)
    val (d, f) = (driver.collect(), distributed.collect())
    assert(d.length === f.length, what)
    assert(d.toSet === f.toSet, what)
  }

  test("connectedComponents: the driver path equals the forced distributed " +
      "path — random graphs, a 10-hop path, no edges, a null endpoint, " +
      "String ids") {
    val s = spark
    import s.implicits._
    def cc(edges: DataFrame)(bound: Long): DataFrame =
      Graph.connectedComponents(edges, "d1", "d2", maxIter = 20,
        localEdgeRows = bound)
    for (seed <- Seq(3, 19, 64)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(90)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      assertPathParity(s"random seed $seed")(cc(edges.toDF("d1", "d2")))
    }
    assertPathParity("10-hop path")(
      cc((0L until 10L).map(i => (i + 1, i)).toDF("d1", "d2")))
    assertPathParity("no edges")(
      cc(Seq.empty[(Long, Long)].toDF("d1", "d2")))
    // a null endpoint: (2, null) leaves 2 in {1, 2}; 5's only edge has a
    // null far end, so it is its own component; the null id is a row
    assertPathParity("null endpoint")(cc(Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
        (Some(7L), Some(8L)), (Some(8L), Some(8L))).toDF("d1", "d2")))
    // the driver path reads ids as primitive longs; any other id type
    // keeps the distributed path whatever the size
    val str = Seq(("b", "a"), ("c", "b"), ("x", "y"), ("é", "e"), ("y", "z"))
      .toDF("d1", "d2")
    assertPathParity("String ids", expectLocal = false)(cc(str))
  }

  test("labelPropagation: the driver path equals the forced distributed " +
      "path on tie-heavy graphs") {
    val s = spark
    import s.implicits._
    def lpa(edges: DataFrame, sweeps: Int)(bound: Long): DataFrame =
      Graph.labelPropagation(edges, "s", "d", sweeps, localEdgeRows = bound)
    // even cycles and complete bipartite graphs: every vote a tie;
    // a star: the hub sees one vote per leaf; sparse random graphs:
    // mostly degree-1 and degree-2 nodes, ties everywhere
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8))
    val k33 = for (a <- 1L to 3L; b <- 11L to 13L) yield (a, b)
    val star = (1L to 6L).map(i => (0L, i))
    val graphs = Seq("8-cycle" -> cycle, "K3,3" -> k33, "star" -> star) ++
      Seq(5, 31, 77).map { seed =>
        val rnd = new scala.util.Random(seed)
        s"random seed $seed" ->
          Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      }
    for ((name, es) <- graphs; sweeps <- Seq(1, 2, 4))
      assertPathParity(s"$name, $sweeps sweeps")(lpa(es.toDF("s", "d"), sweeps))
    assertPathParity("no edges")(lpa(Seq.empty[(Long, Long)].toDF("s", "d"), 2))
    assertPathParity("nullable ids")(lpa(Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(3L)),
      (Some(3L), Some(1L))).toDF("s", "d"), 2))
    assertPathParity("String ids", expectLocal = false)(lpa(Seq(("b", "a"),
      ("c", "a"), ("b", "c"), ("d", "c"), ("e", "d")).toDF("s", "d"), 3))
  }

  test("TopKPerGroup equals the window formulation on random data") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(5, 77)) {
      val rnd = new scala.util.Random(seed)
      val k = 1 + rnd.nextInt(9)
      val rows = Seq.fill(400)((s"g${rnd.nextInt(12)}", rnd.nextLong().abs,
        rnd.nextInt(50).toLong))
        .zipWithIndex.map { case ((g, key, v), i) => (g, key, v, i.toLong) }
      val df = rows.toDF("grp", "key", "v", "uid")
      val win = df.withColumn("pick_rank", row_number().over(
          Window.partitionBy("grp").orderBy(col("key"), col("v"), col("uid"))))
        .where(col("pick_rank") <= k)
        .collect().map(_.toSeq).toSet
      val heap = graft.plans.TopKPerGroup.topK(
          df, Seq("grp"), Seq("key", "v", "uid"), k)
        .collect().map(_.toSeq).toSet
      assert(heap === win, s"seed $seed k=$k")
    }
  }

  test("editDistanceJoin equals brute-force levenshtein on random strings") {
    val s = spark
    import s.implicits._
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    for (seed <- Seq(5, 23); d <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed)
      // tight alphabet + geometric-ish lengths: plenty of near-pairs,
      // repeats, and strings below the count-filtering floor
      val names = (0L until 80L).map { i =>
        i -> Seq.fill(2 + rnd.nextInt(10))("abcd" (rnd.nextInt(4))).mkString
      }
      val want = (for {
        (i1, s1) <- names; (i2, s2) <- names
        if i1 < i2
        dist = lev(s1, s2) if dist <= d
      } yield (i1, i2, dist)).toSet
      val got = Fuzzy.editDistanceJoin(names.toDF("id", "name"), "id", "name", d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === want, s"seed $seed d=$d")
    }
  }

  test("quantileSketch equals the locally-replayed bottom-k sample quantiles") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(3, 77)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 3000).map(i =>
        (s"g${rnd.nextInt(4)}", i.toLong, rnd.nextInt(100000).toLong))
      val df = rows.toDF("g", "id", "v").repartition(1 + seed % 7)
      val got = Sketches.quantileSketch(df, "g", "v", "id", 64,
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // local replay: md5-hash60 order, bottom 64, type-1 index rule
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(x: String): Long = {
        val hex = md.digest(x.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(15)
        java.lang.Long.parseLong(hex, 16)
      }
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sample = rs.map { case (_, id, v) => (h60(id.toString), id, v) }
          .sortBy(t => (t._1, t._2)).take(64).map(_._3).sorted
        val n = sample.length
        def q(p: Double) = sample(math.floor((n - 1) * p).toInt)
        assert(got(g) === ((n.toLong, q(0.5), q(0.9))), s"seed $seed group $g")
      }
    }
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("corpusBleu equals a local reference implementation on random " +
      "pair sets (clipping, pooling, brevity penalty, t2=0 groups)") {
    val s = spark
    import s.implicits._
    val vocab = ('a' to 'f').map(_.toString)
    for (seed <- Seq(3, 21, 84)) {
      val rnd = new scala.util.Random(seed)
      def sent(): String =
        // length 1 included: single-token candidates exercise t2 = 0
        Seq.fill(1 + rnd.nextInt(11))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val pairs = (1 to 60).map(i =>
        (s"g${rnd.nextInt(4)}", i.toLong, sent(), sent()))
      // local reference: same definition, plain Scala
      def grams(t: Seq[String], n: Int): Seq[String] =
        if (t.size < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq
      def clip(c: Seq[String], r: Seq[String]): Long = {
        val rc = r.groupBy(identity).map { case (g, x) => g -> x.size }
        c.groupBy(identity).map { case (g, x) =>
          math.min(x.size, rc.getOrElse(g, 0)) }.sum
      }
      val expected = pairs.groupBy(_._1).map { case (g, ps) =>
        val toks = ps.map(p => (p._3.split(" ").toSeq, p._4.split(" ").toSeq))
        val (c1, t1) = (toks.map(p => clip(grams(p._1, 1), grams(p._2, 1))).sum,
          toks.map(_._1.size).sum)
        val (c2, t2) = (toks.map(p => clip(grams(p._1, 2), grams(p._2, 2))).sum,
          toks.map(p => math.max(p._1.size - 1, 0)).sum)
        val (cl, rl) = (toks.map(_._1.size).sum, toks.map(_._2.size).sum)
        val p1 = c1.toDouble / t1
        val p2 = if (t2 > 0) c2.toDouble / t2 else 0.0
        val bp = if (cl >= rl) 1.0 else math.exp(1.0 - rl.toDouble / cl)
        g -> ((r6(p1), r6(p2), r6(bp), r6(bp * math.sqrt(p1 * p2))))
      }
      val got = Eval.corpusBleu(pairs.toDF("grp", "pid", "cand", "ref"),
          "grp", "pid", "cand", "ref")
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("fleissKappa equals a local reference implementation on random " +
      "rating logs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(9, 55)) {
      val rnd = new scala.util.Random(seed)
      val ratings = (1 to 300).map(_ =>
        (s"i${rnd.nextInt(15)}", s"c${rnd.nextInt(3)}")) ++
        Seq(("solo", "c0")) // one single-rating item: marginals only
      val byItem = ratings.groupBy(_._1)
      val multi = byItem.filter(_._2.size >= 2)
      val pbar = multi.values.map { rs =>
        val nij = rs.groupBy(_._2).values.map(_.size)
        nij.map(n => n.toDouble * (n - 1)).sum /
          (rs.size.toDouble * (rs.size - 1))
      }.sum / multi.size
      val tot = ratings.size.toDouble
      val pe = ratings.groupBy(_._2).values
        .map(c => (c.size / tot) * (c.size / tot)).sum
      val r = Eval.fleissKappa(ratings.toDF("item", "cat"), "item", "cat")
        .collect().head
      assert(r.getLong(0) === multi.size.toLong, s"seed $seed")
      assert(r.getLong(1) === ratings.size.toLong, s"seed $seed")
      assert(r.getDouble(2) === r6(pbar), s"seed $seed")
      assert(r.getDouble(3) === r6(pe), s"seed $seed")
      assert(r.getDouble(4) === r6((pbar - pe) / (1 - pe)), s"seed $seed")
    }
  }

  test("aucFromLevels equals the brute-force pairwise count on random " +
      "scored sets") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(13, 67)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 200).map(_ =>
        (rnd.nextInt(10), rnd.nextBoolean())) ++
        Seq((0, true), (9, false)) // both classes guaranteed present
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val u = (for (p <- pos; n <- neg) yield
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      val r = Eval.aucFromLevels(rows.toDF("level", "hit"), "level", "hit")
        .collect().head
      assert(r.getLong(0) === pos.size.toLong, s"seed $seed")
      assert(r.getLong(1) === neg.size.toLong, s"seed $seed")
      assert(r.getDouble(2) === r6(u / (pos.size.toDouble * neg.size)),
        s"seed $seed")
    }
  }

  test("rankBiasedOverlap equals the brute-force prefix-agreement " +
      "definition on random rankings") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(17, 73)) {
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(5)
      val p = 0.7 + rnd.nextInt(3) * 0.1
      def ranking(qid: Long): Seq[(Long, Long, Int)] = {
        // items drawn from a small pool so overlap is common, ranks
        // sometimes deeper than k so the cut is exercised
        val items = rnd.shuffle((0L to 11L).toList).take(k + 2)
        items.zipWithIndex.map { case (n, i) => (qid, n, i + 1) }
      }
      val a = (1L to 8L).flatMap(ranking)
      val b = (1L to 8L).flatMap(ranking)
      // brute force: A_d = |top-d(a) ∩ top-d(b)| summed with weights
      val c = (1 - p) / (1 - math.pow(p, k))
      val expected = (1L to 8L).map { q =>
        val ta = a.filter(_._1 == q).sortBy(_._3).map(_._2)
        val tb = b.filter(_._1 == q).sortBy(_._3).map(_._2)
        val rbo = (1 to k).map { d =>
          val ad = ta.take(d).toSet.intersect(tb.take(d).toSet).size
          c * math.pow(p, d - 1) * ad / d
        }.sum
        q -> BigDecimal(rbo).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val got = Eval.rankBiasedOverlap(a.toDF("qid", "nid", "rank"),
          b.toDF("qid", "nid", "rank"), k, p)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got === expected, s"seed $seed k=$k p=$p")
    }
  }

  test("calibrationBins equals a local reference implementation on " +
      "random scored sets") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(29, 61)) {
      val rnd = new scala.util.Random(seed)
      val bins = 4 + rnd.nextInt(8)
      val rows = (1 to 400).map(_ => (rnd.nextInt(101) / 100.0,
        rnd.nextBoolean())) :+ ((1.0, true)) // the top-edge fold
      val n = rows.size.toDouble
      val expected = rows.groupBy { case (cf, _) =>
        math.min(math.floor(cf * bins).toInt, bins - 1)
      }.map { case (b, rs) =>
        val conf = rs.map(_._1).sum / rs.size
        val acc = rs.count(_._2).toDouble / rs.size
        b -> ((rs.size.toLong, r6(conf), r6(acc),
          r6(rs.size / n * math.abs(acc - conf))))
      }
      val got = Eval.calibrationBins(rows.toDF("conf", "hit"),
          "conf", "hit", bins)
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
      assert(got === expected, s"seed $seed bins=$bins")
    }
  }

  test("bloomSemiJoin exact mode equals the plain semi-join on random sets") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val big = (1 to 4000).map(_ => rnd.nextLong() % 10000)
        .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("row", "key")
      val dim = (1 to 300).map(_ => rnd.nextLong() % 10000).toDF("k")
      val want = big.join(dim.select(col("k").as("key")), Seq("key"), "left_semi")
        .collect().map(_.getLong(1)).toSeq.sorted
      // tiny filter: false positives guaranteed, exactness must survive
      val got = Skew.bloomSemiJoin(big, dim, "key", "k",
          numBits = 256, numHashes = 3)
        .collect().map(_.getLong(1)).toSeq.sorted
      assert(got === want, s"seed $seed")
    }
  }
}
