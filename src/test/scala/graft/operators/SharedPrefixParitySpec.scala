package graft.operators

import graft.{SparkSpec, Staging}
import graft.functions.NativeText
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Staged-prefix parity: the operators whose threshold-independent
  * prefix (the ranked shingle relation, the joined KN model relation,
  * the triangle counts) the query layer stages once and shares across
  * gates must return EXACTLY what they return over the same prefix
  * built lazily inside the consuming plan — the staging seam may move
  * work, never results. */
class SharedPrefixParitySpec extends SparkSpec {

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),      // near-dup of 1
      (3L, "z y x w v u t s r q"),
      (4L, "a b c d e"),                // contained in 1's prefix
      (5L, "m n o p q r s t u v w x"),
      (6L, "a b c d e f g h i j"),      // exact dup of 1
    ).toDF("doc_id", "text")
  }

  private def shingles =
    docsDf.select(col("doc_id"),
      explode(NativeText.shingleHashes(split(col("text"), " "), 3)).as("h"))

  /** `body` over `build` staged under a spec-local key, the way the
    * query layer stages a shared prefix; the key is evicted after. */
  private def withStaged[T](key: String)(build: => DataFrame)(
      body: DataFrame => T): T = {
    val k = s"parity:$key"
    try body(Staging.stage(spark, k)(build))
    finally Staging.evict(spark, k)
  }

  private def rows(df: DataFrame, order: String*) =
    df.orderBy(order.map(col): _*).collect().toSeq

  /** The operator over a staged (shingles, ranked) pair — the gate
    * family's production seam — and over both built lazily. */
  private def rankedParity(op: (DataFrame, DataFrame) => DataFrame) =
    withStaged("sh")(shingles) { sh =>
      withStaged("ranked")(TextDedup.rankedShingles(sh, "doc_id")) { ranked =>
        val lazySh = shingles
        val a = rows(op(lazySh, TextDedup.rankedShingles(lazySh, "doc_id")),
          "d1", "d2")
        val b = rows(op(sh, ranked), "d1", "d2")
        assert(a.nonEmpty, "fixture must produce pairs")
        assert(a === b)
      }
    }

  test("jaccardSelfJoinFromShingles with a precomputed rankedShingles " +
      "equals the self-contained form") {
    rankedParity((sh, ranked) =>
      TextDedup.jaccardSelfJoinFromShingles(sh, "doc_id", 0.4, ranked))
  }

  test("containmentSelfJoinFromShingles with a precomputed " +
      "rankedShingles equals the self-contained form") {
    rankedParity((sh, ranked) =>
      TextDedup.containmentSelfJoinFromShingles(sh, "doc_id", 0.6, ranked))
  }

  test("KN FromJoined forms over a precomputed joined relation equal " +
      "the self-contained forms (both orders)") {
    val docs = docsDf.select(col("doc_id"),
      split(col("text"), " ").as("w"))
    // order 2
    val c2 = Corpus.knCounts(docs, "doc_id", "w")
    withStaged("kn2")(Corpus.knJoinedRelation(c2)) { j2 =>
      val lazyJ2 = Corpus.knJoinedRelation(c2)
      assert(rows(Corpus.knModelFromJoined(lazyJ2), "w1", "w2") ===
        rows(Corpus.knModelFromJoined(j2), "w1", "w2"))
      assert(rows(Corpus.knScoreFromCounts(docs, "doc_id", "w", c2),
          "doc_id") ===
        rows(Corpus.knScoreFromJoined(docs, "doc_id", "w", j2), "doc_id"))
    }
    // order 3
    val c3 = Corpus.kn3Counts(docs, "doc_id", "w")
    withStaged("kn3")(Corpus.kn3JoinedRelation(c3)) { j3 =>
      val lazyJ3 = Corpus.kn3JoinedRelation(c3)
      val m3 = rows(Corpus.kn3ModelFromJoined(lazyJ3), "w1", "w2", "w3")
      assert(m3.nonEmpty, "fixture must produce trigram types")
      assert(m3 === rows(Corpus.kn3ModelFromJoined(j3), "w1", "w2", "w3"))
      assert(rows(Corpus.kn3ScoreFromJoined(docs, "doc_id", "w", lazyJ3),
          "doc_id") ===
        rows(Corpus.kn3ScoreFromJoined(docs, "doc_id", "w", j3), "doc_id"))
      assert(rows(Corpus.kn3PruneGainsFromJoined(lazyJ3), "w1", "w2", "w3") ===
        rows(Corpus.kn3PruneGainsFromJoined(j3), "w1", "w2", "w3"))
    }
  }

  /** Reference clustering coefficients of an undirected edge list,
    * computed on the driver: (id, deg, n_tri, cc6) per non-isolated
    * node, self-loops dropped, cc6 = 2·n_tri / (deg·(deg − 1)) rounded
    * half-up to 6 places, 0 below degree 2. */
  private def clusteringCoefficients(edges: Seq[(Long, Long)]) = {
    val und = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val nbrs = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    nbrs.toSeq.sortBy(_._1).map { case (u, ns) =>
      val deg = ns.size.toLong
      val tri = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => nbrs(x).contains(y) }.toLong
      val cc = if (deg < 2) 0.0
        else BigDecimal(2.0 * tri / (deg * (deg - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (u, deg, tri, cc)
    }
  }

  test("clusteringCoefficientsFromTriangles over precomputed " +
      "triangleCounts equals clusteringCoefficients") {
    val s = spark
    import s.implicits._
    // two triangles sharing an edge + a pendant node
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L))
    val edges = pairs.toDF("src", "dst")
    withStaged("tri")(Graph.triangleCounts(edges, "src", "dst")) { tri =>
      val a = rows(Graph.clusteringCoefficientsFromTriangles(
        Graph.triangleCounts(edges, "src", "dst"), edges, "src", "dst"), "id")
      val b = rows(Graph.clusteringCoefficientsFromTriangles(tri, edges,
        "src", "dst"), "id")
      assert(a.exists(_.getLong(2) > 0), "fixture must contain triangles")
      assert(a === b)
      assert(b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))) === clusteringCoefficients(pairs))
    }
  }
}
