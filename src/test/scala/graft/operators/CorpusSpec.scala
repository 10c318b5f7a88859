package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  test("winnowFingerprints: the winnowing guarantee — docs sharing a " +
      "substring of >= window+k-1 words share a fingerprint; selection " +
      "is a subset of the doc's own window mins; a short doc still " +
      "contributes one fingerprint; sub-shingle docs contribute none") {
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three four five six $shared x y z"),
      (2L, s"$shared p q r s t u v w"),
      (3L, "tiny doc here"),        // 3 words = 1 shingle < window
      (4L, "ab cd"))                // < shingleSize: no shingles at all
      .toDF("doc_id", "text")
    val fps = Corpus.winnowFingerprints(docs, "doc_id", "text",
        shingleSize = 3, window = 5)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // 8 shared words = 6 shared shingles > window ⇒ at least one full
    // shared window ⇒ a common fingerprint (the MOSS guarantee)
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing >= w+k-1 words must share a fingerprint")
    assert(fps(1L) != fps(2L), "differing docs keep distinct sets")
    assert(fps(3L).size == 1, "a short doc emits exactly its min hash")
    assert(!fps.contains(4L), "no shingles -> no fingerprints")
    // density: far fewer fingerprints than shingles
    val nShingles1 = docs.where($"doc_id" === 1L)
      .select(explode(graft.functions.NativeText.spanHashes(
        split($"text", " "), 3))).count()
    assert(fps(1L).size < nShingles1)
  }

  test("winnow df stats: merged base+delta stats equal a recomputed " +
      "union aggregate, and the maintained-stats incremental matcher " +
      "equals both the inline-stats form and the batch operator " +
      "restricted to delta-touching pairs") {
    val s = spark
    import s.implicits._
    // grpX (2 base + 2 delta docs) shares a rare 20-word block → real
    // cross AND delta-internal pairs below any sane df threshold;
    // boiler rides in EVERY doc (df = 40) → the license-header case
    // the prune exists for
    val sharedX = (1 to 20).map(j => s"blockx$j").mkString(" ")
    val boiler = (1 to 20).map(j => s"boiler$j").mkString(" ")
    val grpX = Set(5L, 10L, 13L, 27L)
    val docs = (1L to 40L).map { i =>
      val mid = if (grpX(i)) sharedX
        else s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"
      (i, s"one$i two$i three$i $mid $boiler")
    }.toDF("doc_id", "text")
    val base = docs.where($"doc_id" % 5 =!= 0)
    val delta = docs.where($"doc_id" % 5 === 0)
    val baseFps = Corpus.winnowFingerprints(base, "doc_id", "text", 3, 5)
    val deltaFps = Corpus.winnowFingerprints(delta, "doc_id", "text", 3, 5)
    val allFps = Corpus.winnowFingerprints(docs, "doc_id", "text", 3, 5)

    // 1. merged-df ≡ recomputed-df: the stored stats table plus the
    //    delta's own aggregate, merged by addition, equals the full
    //    recompute bit-for-bit (exact mergeable sufficient statistics)
    val merged = Corpus.winnowMergeDfStats(
        Corpus.winnowDfStats(baseFps), Corpus.winnowDfStats(deltaFps))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recomputed = Corpus.winnowDfStats(allFps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === recomputed)

    // 2. the maintained-stats form equals the inline-stats convenience
    //    form (same admitted pair set) under a df threshold LOW enough
    //    to actually prune (the shared block lands in 10 docs)
    def pairsL(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val maintained = pairsL(Corpus.incrementalWinnowMatches(
      baseFps, Corpus.winnowDfStats(baseFps), delta, "doc_id", "text",
      3, 5, 2L, 8L))
    val inline = pairsL(Corpus.incrementalWinnowMatches(
      baseFps, delta, "doc_id", "text", 3, 5, minShared = 2L,
      maxDocFreq = 8L))
    assert(maintained === inline)

    // 3. recall equivalence vs the batch operator: maintained-form
    //    pairs = winnowMatches(all) restricted to delta-touching pairs
    val batch = pairsL(Corpus.winnowMatches(allFps, "doc_id", 2L, 8L)
      .where($"d1" % 5 === 0 || $"d2" % 5 === 0))
    assert(maintained === batch)
    assert(maintained.nonEmpty, "fixture must exercise real pairs")
    // and the prune has teeth: with the threshold above the shared
    // block's df the pair set grows
    val unpruned = pairsL(Corpus.incrementalWinnowMatches(
      baseFps, Corpus.winnowDfStats(baseFps), delta, "doc_id", "text",
      3, 5, 2L, 100L))
    assert(unpruned.size > maintained.size)
  }

  test("packChunks: spans are contiguous, offsets bounded, totals consistent") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, 700L), (2L, 700L), (3L, 100L), (4L, 2200L), (5L, 48L))
      .toDF("id", "n")
    val r = Corpus.packChunks(docs, "id", "n", chunkTokens = 1024)
      .orderBy("id")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        x.getLong(2), x.getLong(3), x.getLong(4)))
    // cum: 700, 1400, 1500, 3700, 3748
    assert(r(0) === ((1L, 700L, 0L, 0L, 0L)))     // [0,700) in chunk 0
    assert(r(1) === ((2L, 700L, 0L, 1L, 700L)))   // [700,1400) spans 0→1
    assert(r(2) === ((3L, 100L, 1L, 1L, 376L)))   // [1400,1500)
    assert(r(3) === ((4L, 2200L, 1L, 3L, 476L)))  // [1500,3700) spans 1→3
    assert(r(4) === ((5L, 48L, 3L, 3L, 628L)))    // [3700,3748)
  }

  test("packChunksSharded: row-equal to the global spec under (shard, order)") {
    val s = spark
    import s.implicits._
    // sizes straddle the chunk boundary: some docs span chunks, some
    // chunks span shards — the base-offset arithmetic must carry a
    // partially-filled chunk across a shard boundary
    val docs = (1L to 97L).map(i => (s"shard${i % 5}", i, (i * 37) % 900 + 1))
      .toDF("shard", "id", "n")
    val global = Corpus.packChunks(
        docs.withColumn("_ord", struct(col("shard"), col("id"))),
        "_ord", "n", chunkTokens = 256)
      .drop("_ord")
    val sharded = Corpus.packChunksSharded(docs, "shard", "id", "n", 256)
    assert(sharded.collect().map(_.toSeq).toSet ===
      global.collect().map(_.toSeq).toSet)
  }

  test("packChunksSharded: degenerates to the global form on one shard") {
    val s = spark
    import s.implicits._
    val one = Seq((1L, 700L), (2L, 700L), (3L, 100L), (4L, 2200L), (5L, 48L))
      .toDF("id", "n").withColumn("shard", lit("only"))
    val cols = Seq("shard", "id", "n", "first_chunk", "last_chunk",
      "chunk_offset").map(col)
    val g = Corpus.packChunks(one, "id", "n", chunkTokens = 1024).select(cols: _*)
    val sh = Corpus.packChunksSharded(one, "shard", "id", "n", chunkTokens = 1024)
      .select(cols: _*)
    assert(sh.collect().map(_.toSeq).toSet === g.collect().map(_.toSeq).toSet)
  }

  test("packChunksSharded: no unpartitioned window over the corpus") {
    val s = spark
    import s.implicits._
    val docs = (1L to 50L).map(i => (s"s${i % 3}", i, i)).toDF("shard", "id", "n")
    val lp = Corpus.packChunksSharded(docs, "shard", "id", "n", 256)
      .queryExecution.optimizedPlan
    val wins = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // any window that still sees per-document rows (the `id` column)
    // must be shard-partitioned; the only unpartitioned window is over
    // the per-shard totals table — one row per shard, id long gone
    val corpusWins = wins.filter(_.child.output.exists(_.name == "id"))
    assert(corpusWins.nonEmpty, lp.toString)
    corpusWins.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
    val totalsWins = wins.filterNot(_.child.output.exists(_.name == "id"))
    assert(totalsWins.forall(_.partitionSpec.isEmpty))
  }

  test("decontaminate flags only docs sharing enough shingles with the benchmark") {
    val s = spark
    import s.implicits._
    val benchText = "the quick brown fox jumps over the lazy sleeping dog today"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      // contains a long verbatim run of the benchmark → many shared 5-grams
      (1L, "intro words then " + benchText + " and a conclusion"),
      // shares a single 5-gram only → below the threshold
      (2L, "quick brown fox jumps over something else entirely different here now"),
      // disjoint
      (3L, "completely unrelated text about databases and query planning engines"),
    ).toDF("doc_id", "text")
    val flagged = Corpus.decontaminate(corpus, bench, "doc_id", "text",
        n = 5, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flagged.map(_._1).toSet === Set(1L))
    assert(flagged.head._2 === 100L)
    assert(flagged.head._3 >= 6) // the verbatim run shares its whole 5-gram chain
  }

  test("hashSplit: deterministic, total partition, roughly proportional") {
    val s = spark
    import s.implicits._
    val ids = (1L to 1000L).toDF("id")
    val splits = ids.select(col("id"),
        Corpus.hashSplit(col("id"), 90, 5).as("split"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum === 1000L)
    assert(splits("train") > 850 && splits("train") < 950)
    assert(splits.keySet === Set("train", "val", "test"))
    // determinism: same id → same split on re-evaluation
    val again = ids.select(Corpus.hashSplit(col("id"), 90, 5)).collect()
    val first = ids.select(Corpus.hashSplit(col("id"), 90, 5)).collect()
    assert(again.map(_.getString(0)).toSeq === first.map(_.getString(0)).toSeq)
  }

  test("quotaSample: heap operator equals the window formulation row-for-row") {
    val s = spark
    import s.implicits._
    val docs = (1L to 300L).map(i => (i, s"src${i % 7}")).toDF("doc_id", "source")
    val heap = Corpus.quotaSample(docs, "source", "doc_id", k = 9)
      .collect().map(_.toSeq).toSet
    val window = Corpus.quotaSampleWindow(docs, "source", "doc_id", k = 9)
      .collect().map(_.toSeq).toSet
    assert(heap === window)
  }

  test("quotaSample: caps every group at k, deterministically") {
    val s = spark
    import s.implicits._
    val docs = (1L to 40L).map(i => (i, if (i <= 30) "big" else "small"))
      .toDF("doc_id", "source")
    val out = Corpus.quotaSample(docs, "source", "doc_id", k = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    val byGroup = out.groupBy(_._1)
    assert(byGroup("big").length === 5, "hot group capped at k")
    assert(byGroup("small").length === 5, "10-doc group also capped at k")
    assert(out.forall(_._3 <= 5))
    // selection is content-hash determined: independent of partitioning
    val again = Corpus.quotaSample(docs.repartition(7), "source", "doc_id", k = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2))).toSet
    assert(again === out.toSet)
  }

  test("piiScrub redacts emails, phones, and IPs with per-class counts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "write to jane.doe+spam@lists.example.org or bob@example.com today"),
      (2L, "server 192.168.1.17 called +1-415-555-0199 twice"),
      (3L, "no pii here at all"),
      (4L, "version 1.2 and section 3.4.5 are not addresses"),
    ).toDF("doc_id", "text")
    val out = Corpus.piiScrub(docs, "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(out(0) === ((1L, "write to <EMAIL> or <EMAIL> today", 2, 0, 0)))
    assert(out(1) === ((2L, "server <IP> called <PHONE> twice", 0, 1, 1)))
    assert(out(2) === ((3L, "no pii here at all", 0, 0, 0)))
    // short dotted numerics must not false-positive as IPv4
    assert(out(3) === ((4L, "version 1.2 and section 3.4.5 are not addresses", 0, 0, 0)))
  }

  test("piiScrub stays UDF-free and shuffle-free (scan-speed at scale)") {
    val s = spark
    import s.implicits._
    val plan = Corpus.piiScrub(Seq((1L, "x")).toDF("doc_id", "text"), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("remixByWeights: copy counts follow floor(w) + hash-gated fraction") {
    val s = spark
    import s.implicits._
    val docs = (1L to 400L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    // weights 0 / 0.5 / 1 / 2.5 in basis points
    val wts = Seq(("g0", 0L), ("g1", 5000L), ("g2", 10000L), ("g3", 25000L))
      .toDF("grp", "wt_bp")
    val out = Corpus.remixByWeights(docs, wts, "grp", "id").cache()
    val counts = out.groupBy("grp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // g0: weight 0 drops everything; g2: exactly one copy each
    assert(!counts.contains("g0"))
    assert(counts("g2") === 100L)
    // g1: 0.5 → each doc 0 or 1 copies, hash-decided; strictly between
    assert(counts("g1") > 20L && counts("g1") < 80L)
    // g3: 2.5 → every doc 2 or 3 copies
    val perDoc = out.where(col("grp") === "g3").groupBy("id")
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    assert(perDoc.length === 100 && perDoc.forall(n => n == 2L || n == 3L))
    assert(counts("g3") > 200L && counts("g3") < 300L)
    // epochs are dense 0..copies-1
    val epochs = out.where(col("grp") === "g3" && col("id") === 3L)
      .select("epoch").collect().map(_.getInt(0)).sorted
    assert(epochs === (0 until epochs.length).toArray)
    // deterministic under repartitioning
    val again = Corpus.remixByWeights(docs.repartition(7), wts, "grp", "id")
    assert(again.count() === out.count())
    out.unpersist()
    // the weight dimension broadcasts: no shuffle on the corpus side
    val plan = Corpus.remixByWeights(docs, wts, "grp", "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("chunkWithOverlap: window spans, tail clamp, and md5 reconstruction") {
    val s = spark
    import s.implicits._
    val text100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val text40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val text7 = (1 to 7).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text100), (2L, text40), (3L, text7), (4L, "solo"))
      .toDF("id", "text")
    val r = Corpus.chunkWithOverlap(docs, "id", "text", maxLen = 40, stride = 30)
      .orderBy("id", "chunk_seq").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // n=100: ceil(60/30)+1 = 3 windows at 0, 30, clamped 60 (not 60=2*30 — equal here)
    assert(r.filter(_._1 == 1L).toSeq ===
      Seq((1L, 0L, 0L, 40L), (1L, 1L, 30L, 40L), (1L, 2L, 60L, 40L)))
    // n=40: exactly one window, full doc
    assert(r.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 0L, 40L)))
    // n=7 and n=1: one short window each
    assert(r.filter(_._1 == 3L).toSeq === Seq((3L, 0L, 0L, 7L)))
    assert(r.filter(_._1 == 4L).toSeq === Seq((4L, 0L, 0L, 1L)))
    // tail clamp: n=95 → windows 0,30,55 (last clamped from 60 to 95−40)
    val odd = Seq((9L, (1 to 95).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val ro = Corpus.chunkWithOverlap(odd, "id", "text", 40, 30)
      .orderBy("chunk_seq").collect().map(x => (x.getLong(2), x.getLong(3)))
    assert(ro.toSeq === Seq((0L, 40L), (30L, 40L), (55L, 40L)))
    // md5 is of the actual window content: every token covered, and the
    // first window's hash replays from first principles
    val h = Corpus.chunkWithOverlap(docs.where(col("id") === 2L),
        "id", "text", 40, 30).select("chunk_md5").head().getString(0)
    assert(h === java.security.MessageDigest.getInstance("MD5")
      .digest(text40.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // scan-shaped: no shuffle, no UDF
    val plan = Corpus.chunkWithOverlap(docs, "id", "text", 40, 30)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("shuffleOrder: two-level rank equals the global row_number, dense, deterministic") {
    val s = spark
    import s.implicits._
    val docs = (1L to 500L).toDF("id")
    val r = Corpus.shuffleOrder(docs, "id", seed = "t", buckets = 16)
      .orderBy("rank").collect().map(x => (x.getLong(0), x.getLong(1)))
    // dense 1..n
    assert(r.map(_._1).toSeq === (1L to 500L))
    // equals the single global window ordered by the same seeded hash
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(TextDedup.hash60(concat(col("id").cast("string"),
        lit(":shuffle:t"))), col("id"))
    val want = docs.withColumn("rank", row_number().over(w).cast("long"))
      .orderBy("rank").collect().map(x => (x.getLong(1), x.getLong(0)))
    assert(r.toSeq === want.toSeq)
    // a different seed produces a different permutation
    val other = Corpus.shuffleOrder(docs, "id", seed = "u", buckets = 16)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(other.toSeq !== r.map(_._2).toSeq)
    // stable under input repartitioning
    val again = Corpus.shuffleOrder(docs.repartition(13), "id", "t", 16)
      .orderBy("rank").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(again.toSeq === r.toSeq)
    // scale shape: every corpus-sized window is bucket-partitioned; the
    // only unpartitioned window runs over the per-bucket counts table
    val lp = Corpus.shuffleOrder(docs, "id", "t", 16)
      .queryExecution.optimizedPlan
    val wins = lp.collect {
      case win: org.apache.spark.sql.catalyst.plans.logical.Window => win
    }
    val corpusWins = wins.filter(_.child.output.exists(_.name == "id"))
    assert(corpusWins.nonEmpty && corpusWins.forall(_.partitionSpec.nonEmpty))
    assert(wins.filterNot(_.child.output.exists(_.name == "id"))
      .forall(_.partitionSpec.isEmpty))
  }

  test("percentileTrim keeps each group's top fraction, deterministic ties") {
    val s = spark
    import s.implicits._
    // group a: scores 10..1 over ids 1..10 — percent_rank of rank r
    // over n rows = (r-1)/(n-1), so pr <= 0.4 keeps ranks 1..4
    // ((4-1)/9 = 0.333; rank 5 is 0.444)
    val docs = (1 to 10).map(i => (i.toLong, "a", 11 - i)) ++
      Seq((11L, "b", 7), (12L, "b", 7))  // tie broken by id: pr 0, 1
    val r = Corpus.percentileTrim(docs.toDF("id", "g", "score"),
        "g", "score", "id", 0.4)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(r.toSeq === Seq(1L, 2L, 3L, 4L, 11L))
  }

  test("tokenBudgetSample: hash-order draw stops after crossing the " +
      "budget; every group non-empty; deterministic") {
    val s = spark
    import s.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"g${i % 2}", 300L))
      .toDF("id", "g", "toks")
    val r = Corpus.tokenBudgetSample(docs, "g", "id", "toks", 1000L, "x")
      .collect().map(x => (x.getString(1), x.getLong(0)))
    // 300-token docs against a 1000 budget: cum 300,600,900,1200 — the
    // 1200 row crosses and is kept, the next is not → exactly 4 per group
    val byG = r.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byG === Map("g0" -> 4, "g1" -> 4))
    val again = Corpus.tokenBudgetSample(docs, "g", "id", "toks", 1000L, "x")
      .collect().map(x => (x.getString(1), x.getLong(0)))
    assert(again.sorted.toSeq === r.sorted.toSeq)
    // a different seed draws a different prefix (hash-order, not id-order)
    val other = Corpus.tokenBudgetSample(docs, "g", "id", "toks", 1000L, "y")
      .collect().map(x => (x.getString(1), x.getLong(0)))
    assert(other.sorted.toSeq !== r.sorted.toSeq)
  }

  test("weightedSample: matches the brute-force exponential-draw rank, " +
      "caps per group at k, deterministic under repartitioning") {
    val s = spark
    import s.implicits._
    val docs = (1 to 300).map(i =>
      (i.toLong, s"g${i % 2}", (i % 10 + 1).toLong)).toDF("id", "g", "w")
    val got = Corpus.weightedSample(docs, "g", "id", "w", k = 15)
      .select("id").collect().map(_.getLong(0)).toSet
    // brute force the same draw
    def h60(v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val expect = (1 to 300).map { i =>
      val u = (h60(i.toString) + 1).toDouble / (1L << 60).toDouble
      val draw = BigDecimal(-math.log(u) / (i % 10 + 1).toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s"g${i % 2}", draw, i.toLong)
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (r._2, r._3)).take(15).map(_._3)
    }.toSet
    assert(got === expect)
    val again = Corpus.weightedSample(docs.repartition(7), "g", "id", "w", 15)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === got)
  }

  test("weightedSample: selection probability tracks weight (heavy rows " +
      "oversampled vs uniform)") {
    val s = spark
    import s.implicits._
    // 1000 rows, 100 with weight 50, 900 with weight 1 — a 100-row
    // sample should contain far more heavy rows than their 10% share
    val docs = (1 to 1000).map(i =>
      (i.toLong, "g", if (i <= 100) 50L else 1L)).toDF("id", "g", "w")
    val heavy = Corpus.weightedSample(docs, "g", "id", "w", k = 100)
      .where(col("id") <= 100).count()
    assert(heavy >= 60L, s"heavy rows undersampled: $heavy/100")
  }

  test("integerOutliers: agrees with the floating z-score on clear data " +
      "and flags nothing on a constant group") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // group a: tight cluster around 100 plus two far outliers;
    // group b: every value identical (variance 0 — nothing may flag)
    val rows = (1 to 200).map(i => (i.toLong, "a", 95L + rnd.nextInt(11))) ++
      Seq((201L, "a", 100000L), (202L, "a", -50000L)) ++
      (301 to 340).map(i => (i.toLong, "b", 42L))
    val df = rows.toDF("id", "g", "v")
    val flagged = Corpus.integerOutliers(df, "g", "v", z = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    // brute-force float z-score over the same data
    val byG = rows.groupBy(_._2)
    val expect = byG.flatMap { case (_, rs) =>
      val vs = rs.map(_._3.toDouble)
      val n = vs.length
      val mean = vs.sum / n
      val varPop = vs.map(x => (x - mean) * (x - mean)).sum / n
      rs.filter { case (_, _, v) =>
        (v - mean) * (v - mean) > 9.0 * varPop }.map(_._1)
    }.toSet
    assert(flagged === expect)
    assert(flagged === Set(201L, 202L))
    assert(!flagged.exists(_ >= 301L), "constant group must not flag")
  }

  test("integerOutliers: strict inequality — a two-point group never " +
      "flags at z>=1 (each point is exactly 1 sigma out)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "g", 0L), (2L, "g", 10L)).toDF("id", "g", "v")
    assert(Corpus.integerOutliers(df, "g", "v", z = 1).count() === 0L)
  }

  test("balancedSample: smallest group survives whole; larger groups " +
      "land near the target; deterministic under repartitioning") {
    val s = spark
    import s.implicits._
    val rows = (1 to 2000).map(i => (i.toLong, "big")) ++
      (2001 to 2400).map(i => (i.toLong, "mid")) ++
      (2401 to 2520).map(i => (i.toLong, "small"))
    val df = rows.toDF("id", "g")
    val kept = Corpus.balancedSample(df, "g", "id")
    val sizes = kept.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the min group's threshold is 2^60 → every row kept, exactly
    assert(sizes("small") === 120L)
    // Bernoulli at target=120: ±4·sqrt(120) ≈ ±44
    assert(math.abs(sizes("big") - 120L) <= 44, s"big=${sizes("big")}")
    assert(math.abs(sizes("mid") - 120L) <= 44, s"mid=${sizes("mid")}")
    val again = Corpus.balancedSample(df.repartition(7), "g", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === kept.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("balancedSample: kept set is a subset closed under the hash coin " +
      "(same id kept in every group-size regime it qualifies for)") {
    val s = spark
    import s.implicits._
    // one group only → trivially all kept (target = own size)
    val df = (1 to 50).map(i => (i.toLong, "only")).toDF("id", "g")
    assert(Corpus.balancedSample(df, "g", "id").count() === 50L)
  }

  test("dsirWeights: equals an independent driver-side implementation " +
      "exactly (integer nano-nat weights, order-free)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha", true),
      (2L, "alpha beta delta", true),
      (3L, "delta epsilon zeta zeta", false),
      (4L, "epsilon zeta eta theta", false),
      (5L, "alpha gamma epsilon", false))
    val dim = 64
    val got = Corpus.dsirWeights(
        docs.toDF("doc_id", "text", "t"), "doc_id", "text",
        isTarget = col("t"), buckets = dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent local implementation (plain Scala, same formulas)
    def bkt(w: String): Int =
      (graft.functions.MinhashKernel.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(w)) % dim).toInt
    val toks = docs.flatMap { case (_, text, t) =>
      text.split(" ").map(w => (bkt(w), t)) }
    val cr = toks.groupBy(_._1).map { case (b, g) => b -> g.size.toLong }
    val ct = toks.filter(_._2).groupBy(_._1)
      .map { case (b, g) => b -> g.size.toLong }
    val (nr, nt) = (toks.size.toLong, toks.count(_._2).toLong)
    def lnNano(c: Long, n: Long): Long =
      BigDecimal(math.log((c + 1.0) / (n + dim.toDouble)) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def llr(b: Int): Long =
      lnNano(ct.getOrElse(b, 0L), nt) - lnNano(cr(b), nr)
    val want = docs.map { case (id, text, _) =>
      id -> text.split(" ").map(w => llr(bkt(w))).sum }.toMap
    assert(got === want)
  }

  test("dsirWeights: target-heavy documents outweigh off-target ones, " +
      "deterministically under repartitioning") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 10).map(i => (i.toLong, "alpha beta gamma", true)) ++
      (11 to 20).map(i => (i.toLong, "delta epsilon zeta", false)))
      .toDF("doc_id", "text", "t")
    val w = Corpus.dsirWeights(docs, "doc_id", "text", col("t"), 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(1L) > w(11L))
    val w2 = Corpus.dsirWeights(docs.repartition(7), "doc_id", "text",
        col("t"), 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w2 === w)
  }

  test("temperatureWeights: α=1 is the natural mixture (10000 bp " +
      "everywhere); α<1 up-weights small sources; expected corpus size " +
      "is preserved within quantization") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 80).map(i => (i.toLong, "big")) ++
      (81 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val natural = Corpus.temperatureWeights(docs, "source", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(natural === Map("big" -> 10000L, "small" -> 10000L))
    val flat = Corpus.temperatureWeights(docs, "source", alpha = 0.3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flat("small") > 10000L && flat("big") < 10000L)
    // Σ_s n_s · w_s ≈ N (corpus-size preserving in expectation)
    val expected = 80.0 * flat("big") / 1e4 + 20.0 * flat("small") / 1e4
    assert(math.abs(expected - 100.0) < 1.0, s"expected size $expected")
  }

  test("temperatureWeights: randomized differential against driver-side " +
      "math over random group-size profiles and alphas") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(2203)
    (1 to 10).foreach { _ =>
      val alpha = Seq(0.2, 0.3, 0.5, 0.7, 1.0)(rnd.nextInt(5))
      val sizes = (0 until (2 + rnd.nextInt(5)))
        .map(g => s"g$g" -> (1 + rnd.nextInt(200))).toMap
      val docs = sizes.toSeq.flatMap { case (g, n) =>
        (1 to n).map(i => (s"$g:$i", g)) }.toDF("id", "src")
      val got = Corpus.temperatureWeights(docs, "src", alpha)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val zq = sizes.values.map(n => BigDecimal(math.pow(n.toDouble, alpha) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      val tot = sizes.values.sum.toDouble
      val want = sizes.map { case (g, n) =>
        g -> BigDecimal(1e4 * tot * math.pow(n.toDouble, alpha - 1.0)
            / (zq.toDouble / 1e6))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      assert(got === want, s"alpha=$alpha sizes=$sizes")
    }
  }

  test("dsirStats merge algebra: stats(A) ⊕ stats(B) == stats(A ∪ B) " +
      "exactly, so incremental weights are bit-identical to batch") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha", true),
      (2L, "alpha beta delta", true),
      (3L, "delta epsilon zeta zeta", false),
      (4L, "epsilon zeta eta theta", false),
      (5L, "alpha gamma epsilon", false),
      (6L, "beta beta theta", true)).toDF("doc_id", "text", "t")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 =!= 0)
    val dim = 64
    def statsMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = Corpus.dsirMergeStats(
      Corpus.dsirStats(base, "text", col("t"), dim),
      Corpus.dsirStats(delta, "text", col("t"), dim))
    assert(statsMap(merged) ===
      statsMap(Corpus.dsirStats(docs, "text", col("t"), dim)))
    val incr = Corpus.dsirWeightsFromStats(docs, "doc_id", "text", merged, dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Corpus.dsirWeights(docs, "doc_id", "text", col("t"), dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr === batch)
  }

  test("dsirWeights: NULL text scores like empty text (total function, " +
      "never a NULL weight)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, Some("alpha beta"), true),
      (2L, None: Option[String], false),
      (3L, Some(""), false)).toDF("doc_id", "text", "t")
    val w = Corpus.dsirWeights(docs, "doc_id", "text", col("t"), 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size === 3)
    // split('') yields [''] on both engines: null and empty text share
    // the one-empty-token weight
    assert(w(2L) === w(3L))
  }

  /** The KN models of a counts table, read off its joined relation. */
  private def knModel(counts: DataFrame): DataFrame =
    Corpus.knModelFromJoined(Corpus.knJoinedRelation(counts))
  private def kn3Model(counts: DataFrame): DataFrame =
    Corpus.kn3ModelFromJoined(Corpus.kn3JoinedRelation(counts))

  test("knModel: hand-computed interpolated Kneser-Ney probabilities " +
      "on the textbook corpus; observed-mass sums stay below one") {
    val s = spark
    import s.implicits._
    // one doc "a b a b c": bigrams ab×2, ba×1, bc×1 → n1=2, n2=1,
    // D = 2/4 = 0.5; B = 3 types; every w2 has one left-context so
    // Pcont = 1/3 each; contexts: a→(c1=2, nf=1), b→(c1=2, nf=2)
    val docs = Seq((1L, Seq("a", "b", "a", "b", "c"))).toDF("doc_id", "w")
    val m = knModel(Corpus.knCounts(docs, "doc_id", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6))
      .toMap // keyed (w1, w2) — knModelFromJoined's select pins the order
    assert(m.size === 3)
    assert(m(("a", "b")) === 0.833333) // (2 − .5 + .5·1·(1/3)) / 2
    assert(m(("b", "a")) === 0.416667) // (1 − .5 + .5·2·(1/3)) / 2
    assert(m(("b", "c")) === 0.416667)
    // interpolated KN: per-context observed mass < 1 (the remainder is
    // the smoothing mass spread over unseen continuations)
    assert(m(("b", "a")) + m(("b", "c")) < 1.0)
  }

  test("knModel: degenerate count-of-counts (no singleton or doubleton " +
      "bigrams) takes KenLM's 0.5 fallback discount instead of 0/0") {
    val s = spark
    import s.implicits._
    // "x y x y x y x y": xy×4, yx×3 → n1 = n2 = 0 → D = 0.5
    val docs = Seq((1L, Seq("x", "y", "x", "y", "x", "y", "x", "y")))
      .toDF("doc_id", "w")
    val m = knModel(Corpus.knCounts(docs, "doc_id", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6))
      .toMap
    assert(m(("x", "y")) === 0.9375)   // (4 − .5 + .5·1·(1/2)) / 4
    assert(m(("y", "x")) === 0.916667) // (3 − .5 + .5·1·(1/2)) / 3
  }

  test("knMergeCounts: merged base+delta counts equal the recomputed " +
      "union table, and the model derived from the merged table equals " +
      "the recomputed model bit-for-bit") {
    val s = spark
    import s.implicits._
    val docs = (1L to 30L).map { i =>
      val rep = if (i % 3 == 0) "common phrase here" else s"rare$i words$i"
      (i, s"start$i $rep tail${i % 5}".split(" ").toSeq)
    }.toDF("doc_id", "w")
    val base = docs.where($"doc_id" % 10 =!= 0)
    val delta = docs.where($"doc_id" % 10 === 0)
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val merged = Corpus.knMergeCounts(
      Corpus.knCounts(base, "doc_id", "w"),
      Corpus.knCounts(delta, "doc_id", "w"))
    val recomputed = Corpus.knCounts(docs, "doc_id", "w")
    assert(cmap(merged) === cmap(recomputed))
    def mmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6)).toMap
    assert(mmap(knModel(merged)) === mmap(knModel(recomputed)))
  }

  test("cdcChunks: chunks partition the word range exactly; boundaries " +
      "are SHIFT-RESISTANT — a front insertion leaves every downstream " +
      "chunk's content identical (the fixed-grid chunker's failure mode)") {
    val s = spark
    import s.implicits._
    val words = (1 to 400).map(i => s"tok${i * 7919 % 997}")
    val a = words.mkString(" ")
    val b = ("INSERTED " + a)
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val chunks = Corpus.cdcChunks(docs, "doc_id", "text", k = 3, divisor = 32)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2) }
    // partition: starts chain, last end = doc length
    for ((id, n) <- Seq(1L -> 400, 2L -> 401)) {
      val cs = chunks(id)
      assert(cs.head._3 === 1L)
      assert(cs.last._4 === n.toLong)
      cs.sliding(2).foreach { case Array(p, q) => assert(q._3 === p._4 + 1) }
    }
    // shift resistance: chunk CONTENT downstream of the edit is
    // unchanged — compare the chunk word-strings of both docs
    def texts(id: Long, ws: IndexedSeq[String]): Seq[String] =
      chunks(id).map { case (_, _, st, en) =>
        ws.slice(st.toInt - 1, en.toInt).mkString(" ") }
    val ta = texts(1L, words.toIndexedSeq)
    val tb = texts(2L, ("INSERTED" +: words).toIndexedSeq)
    assert(ta.size >= 5, s"fixture too smooth: ${ta.size} chunks")
    // every chunk of A except at most the first survives verbatim in B
    val common = ta.toSet intersect tb.toSet
    assert(common.size >= ta.size - 1,
      s"shift broke ${ta.size - common.size} chunks")
  }

  test("knScoreForeign: all four backoff branches hand-verified — seen " +
      "bigram, seen-context-only, unseen context, and the 0.5/B unseen-" +
      "continuation floor; OOV bigrams counted") {
    val s = spark
    import s.implicits._
    // train "a b c": counts ab=1, bc=1 → D = 2/2 = 1 (all singletons),
    // bt = 2, Pcont(b) = Pcont(c) = 1/2, unseen-continuation floor 1/4
    val train = Seq((1L, Seq("a", "b", "c"))).toDF("doc_id", "w")
    // foreign "a b x a q c": (a,b) seen → Pcont(b) = .5 after the full
    // discount; (b,x) seen context, unseen cont → 1·1·.25/1 = .25;
    // (x,a) unseen context, a unseen cont → .25; (a,q) → .25;
    // (q,c) unseen context → Pcont(c) = .5
    val foreign = Seq((9L, Seq("a", "b", "x", "a", "q", "c")))
      .toDF("doc_id", "w")
    val r = Corpus.knScoreForeign(foreign, "doc_id", "w",
        Corpus.knCounts(train, "doc_id", "w"))
      .collect().head
    assert(r.getLong(1) === 5L)         // n_bigrams
    assert(r.getLong(2) === 4L)         // n_oov (only (a,b) was trained)
    // (2·ln .5 + 3·ln .25) / 5 = −1.109035
    assert(r.getDouble(3) === -1.109035)
  }

  test("kn3PruneGains: a trigram whose full-order probability beats its " +
      "backoff carries positive count-weighted gain; gains are finite " +
      "everywhere") {
    val s = spark
    import s.implicits._
    val docs = (1L to 12L).map { i =>
      val mid = if (i % 2 == 0) "x y z" else s"a$i b$i c$i"
      (i, s"s$i $mid e$i".split(" ").toSeq)
    }.toDF("doc_id", "w")
    val gains = Corpus.kn3PruneGainsFromJoined(
        Corpus.kn3JoinedRelation(Corpus.kn3Counts(docs, "doc_id", "w")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(4)).toMap
    // (x,y,z) occurs 6 times and its backoff (y,z) has one context —
    // the repeated phrase is worth keeping
    assert(gains(("x", "y", "z")) > 0.0)
    assert(gains.values.forall(g => !g.isNaN && !g.isInfinite))
  }

  test("kn3Model: hand-computed order-3 interpolated KN on the " +
      "textbook corpus — both discounts, the type-count (not frequency) " +
      "lower order, and the continuation base all verified") {
    val s = spark
    import s.implicits._
    // "a b a b a": trigrams aba×2, bab×1 → n1_3 = n2_3 = 1, D3 = 1/3;
    // bigram TYPES from the trigram table: (b,a) and (a,b), both
    // b23 = 1 → n1_2 = 2, n2_2 = 0, D2 = 1; bt2 = 2, Pcont = 1/2 each;
    // P2(a|b) = (1−1 + 1·1·(1/2))/1 = 0.5 = P2(b|a)
    // P3(a|ab) = (2 − 1/3 + (1/3)·1·0.5)/2 = 0.916667
    // P3(b|ba) = (1 − 1/3 + (1/3)·1·0.5)/1 = 0.833333
    val docs = Seq((1L, Seq("a", "b", "a", "b", "a"))).toDF("doc_id", "w")
    val m = kn3Model(Corpus.kn3Counts(docs, "doc_id", "w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(4)).toMap
    assert(m.size === 2)
    assert(m(("a", "b", "a")) === 0.916667)
    assert(m(("b", "a", "b")) === 0.833333)
  }

  test("kn3MergeCounts: merged ≡ recomputed, and the derived order-3 " +
      "model re-derives identically from the merged table; sub-3-token " +
      "docs contribute nothing") {
    val s = spark
    import s.implicits._
    val docs = (1L to 24L).map { i =>
      val mid = if (i % 3 == 0) "the quick brown fox jumps" else s"r$i s$i t$i"
      (i, s"h${i % 4} $mid z${i % 5}".split(" ").toSeq)
    }.toDF("doc_id", "w") unionByName
      Seq((100L, Seq("two", "words")), (101L, Seq("one"))).toDF("doc_id", "w")
    val base = docs.where($"doc_id" % 10 =!= 0)
    val delta = docs.where($"doc_id" % 10 === 0)
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    val merged = Corpus.kn3MergeCounts(
      Corpus.kn3Counts(base, "doc_id", "w"),
      Corpus.kn3Counts(delta, "doc_id", "w"))
    val recomputed = Corpus.kn3Counts(docs, "doc_id", "w")
    assert(cmap(merged) === cmap(recomputed))
    def mmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(4)).toMap
    assert(mmap(kn3Model(merged)) === mmap(kn3Model(recomputed)))
    // the 2-token and 1-token docs never reach the stream
    val scored = Corpus.kn3ScoreFromJoined(docs, "doc_id", "w",
        Corpus.kn3JoinedRelation(recomputed))
      .collect().map(_.getLong(0)).toSet
    assert(!scored.contains(100L) && !scored.contains(101L))
  }

  test("knScoreFromCounts: a document of one repeated high-probability " +
      "bigram scores higher (lower ppl) than a singleton-bigram doc; " +
      "sub-2-token docs drop") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, Seq("x", "y", "x", "y", "x", "y")), // xy dominates
      (2L, Seq("p", "q")),                     // one singleton bigram
      (3L, Seq("solo"))                        // no bigrams → drops
    ).toDF("doc_id", "w")
    val scored = Corpus.knScoreFromCounts(docs, "doc_id", "w",
        Corpus.knCounts(docs, "doc_id", "w"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(scored.keySet === Set(1L, 2L))
    assert(scored(1L)._1 === 5L)
    assert(scored(1L)._2 > scored(2L)._2)   // higher avg logprob
    assert(scored(1L)._3 < scored(2L)._3)   // lower perplexity
    assert(scored.values.forall(v => v._3 > 0.0))
  }

  test("zipfFit: OLS sums match a plain-Scala replay; frequency ties " +
      "rank by term; maxRanks cuts the head") {
    val s = spark
    import s.implicits._
    // freqs: a=8, b=4, c=2, d=2 (c/d tie → ranks 3/4 by term)
    val docs = Seq("a a a a b b c d", "a a a a b b c d").toDF("text")
    def ols(fs: Seq[Long]) = {
      val xy = fs.zipWithIndex.map { case (f, i) =>
        (math.log(i + 1.0), math.log(f.toDouble)) }
      val n = xy.size.toDouble
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxx = xy.map(p => p._1 * p._1).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(slope), r6((sy - slope * sx) / n),
        r6((n * sxy - sx * sy) * (n * sxy - sx * sy) /
          ((n * sxx - sx * sx) * (n * syy - sy * sy))))
    }
    val full = Corpus.zipfFit(docs, "text").collect().head
    val (sl, ic, r2) = ols(Seq(8L, 4L, 2L, 2L))
    assert(full.getLong(0) === 4L)
    assert(full.getDouble(1) === sl && full.getDouble(2) === ic &&
      full.getDouble(3) === r2)
    assert(sl < -0.5 && r2 > 0.9, "a Zipf-ish head fits steep and tight")

    val cut = Corpus.zipfFit(docs, "text", maxRanks = 2).collect().head
    val (sl2, _, r22) = ols(Seq(8L, 4L))
    assert(cut.getLong(0) === 2L && cut.getDouble(1) === sl2)
    assert(r22 === 1.0, "two points fit exactly")

    // degenerate fits report NULL, never an engine-dependent 0/0:
    // a single type zeroes varX; a perfectly uniform head zeroes varY
    val one = Corpus.zipfFit(Seq("a a a").toDF("text"), "text")
      .collect().head
    assert(one.getLong(0) === 1L && one.isNullAt(1) && one.isNullAt(3))
    val flat = Corpus.zipfFit(Seq("a b c").toDF("text"), "text")
      .collect().head
    assert(flat.getDouble(1) === 0.0, "uniform head: slope 0 is defined")
    assert(flat.isNullAt(3), "uniform head: r2 is 0/0 - reported NULL")
  }

  test("bpeTrain: merge order hand-checked; training stops when no " +
      "pairs remain; segmentation follows the learned merges") {
    val s = spark
    import s.implicits._
    // words: aab ×3, ab ×1, x ×1 — round 1 counts (a,a)=3, (a,b)=4
    val docs = Seq("aab aab ab", "aab x").toDF("text")
    val m = Corpus.bpeTrain(docs, "text", nMerges = 3)
      .orderBy("rank").collect()
    // round 1: (a,b)→ab @4; aab→[a,ab], ab→[ab]
    // round 2: (a,ab)→aab @3; aab→[aab]
    // round 3: no adjacent pairs left anywhere → trains only 2 merges
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq ===
      Seq((1, "a", "b", "ab", 4L), (2, "a", "ab", "aab", 3L)))

    val seg = Corpus.bpeSegment(docs, "text",
        Seq(("a", "b"), ("a", "ab")))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seg === Map("aab" -> "aab", "ab" -> "ab", "x" -> "x"))
  }

  test("bpeSegment: a run merges leftmost-first non-overlapping — " +
      "aaaa → [aa,aa], aaa → [aa,a] under (a,a)") {
    val s = spark
    import s.implicits._
    val docs = Seq("aaaa aaa").toDF("text")
    val seg = Corpus.bpeSegment(docs, "text", Seq(("a", "a")))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seg === Map("aaaa" -> "aa aa", "aaa" -> "aa a"))
  }

  test("bpeTrain: pair counts include overlapping occurrences and " +
      "weight by word frequency (Sennrich get_stats semantics)") {
    val s = spark
    import s.implicits._
    // "aaa" ×2 → (a,a) counted 2 per word = 4; "bc" ×3 → (b,c) = 3
    val docs = Seq("aaa bc bc", "aaa bc").toDF("text")
    val m = Corpus.bpeTrain(docs, "text", nMerges = 1).collect()
    assert(m.map(r => (r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq === Seq(("a", "a", 4L)))
  }

  test("coverageCurve: cumulative shares hand-checked; frequency ties " +
      "rank by term; checkpoints beyond the vocab drop") {
    val s = spark
    import s.implicits._
    // freqs: a=5, b=3, c=2 (10 tokens)
    val docs = Seq("a a a b b c", "a a b c").toDF("text")
    val r = Corpus.coverageCurve(docs, "text", ks = Seq(1, 2, 5))
      .collect()
    assert(r.map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).toSeq
      === Seq((1, 5L, 0.5), (2, 8L, 0.8)),
      "k=5 exceeds the 3-type vocab and must drop, not pad")
  }

  test("mixtureEntropy: uniform mixtures score ln(k) and eff = k; a " +
      "concentrated mixture scores near 0; hand-checked skew between") {
    val s = spark
    import s.implicits._
    def ent(ns: Seq[Long]): (Long, Double, Double) = {
      val r = Corpus.mixtureEntropy(
        ns.zipWithIndex.map { case (n, i) => (s"d$i", n) }.toDF("k", "n"),
        "n").collect().head
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ent(Seq(5L, 5L, 5L, 5L)) ===
      ((20L, r6(math.log(4.0)), 4.0)))
    val (_, h1, e1) = ent(Seq(97L, 1L, 1L, 1L))
    assert(h1 < 0.2 && e1 < 1.25, "concentrated mixture → eff ≈ 1")
    // hand case: (3, 1): H = ln 4 − (3 ln 3)/4
    val h = math.log(4.0) - 3.0 * math.log(3.0) / 4.0
    val (_, h2, e2) = ent(Seq(3L, 1L))
    assert(h2 === r6(h) && e2 === r6(math.exp(h)))
    // zero-count keys drop by the 0·ln0 = 0 limit; empty input is a
    // defined 0-row mixture with NULL entropy, not an NPE
    assert(ent(Seq(3L, 1L, 0L)) === ((4L, r6(h), r6(math.exp(h)))))
    val empty = Corpus.mixtureEntropy(
      Seq.empty[(String, Long)].toDF("k", "n"), "n").collect().head
    assert(empty.getLong(0) === 0L && empty.isNullAt(1))
  }

  test("bpeFertility: tokens-per-word and chars-per-token, hand-checked " +
      "against a known segmentation") {
    val s = spark
    import s.implicits._
    // under merge (a,a): "aaaa"→[aa,aa] (2 tok, 4 chr), "aab"→[aa,b]
    // (2 tok, 3 chr), "b"→[b] (1 tok, 1 chr)
    val docs = Seq(("g1", "aaaa aab"), ("g2", "b b")).toDF("src", "text")
    val r = Corpus.bpeFertility(docs, "src", "text", Seq(("a", "a")))
      .orderBy("grp").collect()
    // g1: words 2, tokens 2+2=4, fertility 2.0, cpt (4+3)/4 = 1.75
    assert(r(0).getLong(1) === 2L && r(0).getLong(2) === 4L)
    assert(r(0).getDouble(3) === 2.0 && r(0).getDouble(4) === 1.75)
    // g2: 2 words ("b" ×2), 2 tokens, fertility 1, cpt 1
    assert(r(1).getLong(1) === 2L && r(1).getLong(2) === 2L)
    assert(r(1).getDouble(3) === 1.0 && r(1).getDouble(4) === 1.0)
  }

  test("heapsCurve: exact cumulative curve, first-occurrence vocab " +
      "attribution, and empty-vocab buckets carried forward") {
    val s = spark
    import s.implicits._
    // span = 10 → doc_id d lands in bucket d+1, one doc per decile
    val docs = Seq(
      (0L, "a b"), (1L, "a c"), (2L, "a a"), (3L, "b c"), (4L, "d d"),
      (5L, "a b"), (6L, "e f"), (7L, "a a"), (8L, "b b"), (9L, "g a"))
      .toDF("doc_id", "text")
    val r = Corpus.heapsCurve(docs, "doc_id", "text")
      .orderBy("decile").collect()
    assert(r.map(_.getInt(0)).toSeq === (1 to 10))
    assert(r.map(_.getLong(1)).toSeq === (1L to 10L), "docs_cum")
    assert(r.map(_.getLong(2)).toSeq ===
      Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L, 18L, 20L))
    // first occurrences: a,b @d0; c @d1; d @d4; e,f @d6; g @d9 —
    // deciles 3,4,6,8,9 add nothing and must carry the running total
    assert(r.map(_.getLong(3)).toSeq ===
      Seq(2L, 3L, 3L, 3L, 4L, 4L, 6L, 6L, 6L, 7L))
    // the fit replays the plain-Scala OLS over the 10 curve points
    val xy = r.map(x => (math.log(x.getLong(2).toDouble),
      math.log(x.getLong(3).toDouble)))
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.head.getDouble(4) === r6(beta))
    assert(r.head.getDouble(5) === r6(math.exp((sy - beta * sx) / n)))
    assert(r.forall(_.getDouble(4) === r.head.getDouble(4)),
      "fit constant across the curve rows")
  }
}
