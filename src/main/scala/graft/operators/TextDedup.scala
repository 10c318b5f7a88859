package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora: exact (content hash),
  * MinHash+LSH banded near-dup, and SimHash near-dup.
  *
  * Scale notes (the whole point of these designs):
  *  - nothing here is all-pairs: candidate generation goes through
  *    hash-bucket shuffles (band → bucket-join), so cost is
  *    O(docs × signature) plus output-sized joins;
  *  - signatures are computed in ONE aggregation pass over the exploded
  *    shingle table (64 `min` aggregates, map-side partial agg);
  *  - exact-Jaccard verification touches only LSH candidates, never the
  *    full corpus.
  */
object TextDedup {

  /** 60-bit integer hash shared with the DuckDB oracle:
    * parse the first 15 hex chars of md5. Codegen'd built-ins only.
    * Used where the oracle must replay the exact hash (SimHash); the
    * MinHash path uses [[xxhash64]] instead because its oracle is
    * ground-truth Jaccard over the shingle *strings* — any injective
    * base hash gives identical counts, and xxhash64 is ~20× cheaper
    * than md5-hex-parse. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct n-word shingles of a single-space-tokenized text column:
    * the space-joined n-word windows in first-occurrence order, per
    * row, no shuffle. The native [[graft.functions.NativeText.shingles]]
    * kernel computes them in one codegen'd call per row, and the inline
    * `split` is evaluated once per row. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NativeText.shingles(split(text, " "), n)

  // MinHash universal-hash family over Z_P: h_k(x) = (a_k x + b_k) mod P.
  // Constants live in the native kernel (graft.functions.MinhashKernel)
  // shared by the per-row expression and the aggregate formulation below.
  val P: Long = graft.functions.MinhashKernel.P
  val NumHashes: Int = graft.functions.MinhashKernel.NumHashes
  val Bands = 16
  val RowsPerBand = 4

  /** Deterministic (a_k, b_k) parameters, seeded — no runtime RNG. */
  val perms: IndexedSeq[(Long, Long)] = graft.functions.MinhashKernel.perms

  /** (id, shingle-hash) exploded table → one row per doc with a
    * `sig` array of 64 minhashes, computed as 64 partial-aggregable
    * `min`s in a single groupBy pass. */
  def minhashSignatures(shingleHashes: DataFrame, idCol: String): DataFrame = {
    // reduce h into Z_P ONCE per row — inlining `h % P` into the 64
    // aggregates would evaluate the mod 64× per input row
    val reduced = shingleHashes.select(col(idCol), pmod(col("h"), lit(P)).as("hm"))
    val aggs = perms.zipWithIndex.map { case ((a, b), k) =>
      min((lit(a) * col("hm") + lit(b)) % P).as(s"m$k")
    }
    reduced.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until NumHashes).map(k => col(s"m$k")): _*).as("sig"))
  }

  /** A band bucket holding more than this many docs is dropped from
    * candidate generation: a single degenerate bucket (empty strings,
    * boilerplate-heavy corpora) otherwise contributes O(n²) pairs and
    * skews one reducer at cluster scale. Docs inside a dropped bucket
    * still pair through their other 15 bands, so only pathological
    * all-identical clusters above the cap lose recall — by design.
    * 1000 is far above any honest bucket at the tested scales (the cap
    * must not fire at sf0.01, and doesn't). */
  val MaxBucketSize = 1000

  /** (id, band, bucket) rows from a signature table: each signature
    * splits into `Bands` bands of `RowsPerBand` rows, hashed to a
    * bucket id. Shared by the batch self-join candidates below and the
    * streaming stateful dedup (streaming/StreamingDedup.scala). */
  def bandBuckets(sigs: DataFrame, idCol: String,
      passthroughCols: Seq[String] = Nil): DataFrame =
    sigs.select(col(idCol) +: passthroughCols.map(col) :+ posexplode(
      transform(sequence(lit(0), lit(Bands - 1)),
        b => hash(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))): _*)
      .toDF(idCol +: passthroughCols :+ "band" :+ "bucket": _*)

  /** Candidate pairs from banded LSH: each signature splits into
    * `Bands` bands of `RowsPerBand` rows; docs colliding on any whole
    * band become a pair. The band bucket join is the only shuffle;
    * buckets above `maxBucketSize` are dropped before the self-join
    * (the count and the join shuffle on the same (band, bucket) key,
    * so the guard adds no extra exchange of the big table). */
  def lshCandidates(sigs: DataFrame, idCol: String,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = bandBuckets(sigs, idCol)
    // hot-bucket guard via a window count over the SAME (band, bucket)
    // partitioning the self-join shuffles on: the signature pipeline
    // upstream is computed once (a groupBy-count + anti-join formulation
    // re-evaluates the whole expensive sig subtree for the count side),
    // and the two self-join inputs below are identical subplans over one
    // exchange (ReuseExchange dedupes them).
    val kept = bands
      .withColumn("_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bucket"))))
      .where(col("_n") <= maxBucketSize)
      .select(col(idCol), col("band"), col("bucket"))
    val b1 = kept.toDF("d1", "band", "bucket")
    val b2 = kept.toDF("d2", "band", "bucket")
    b1.join(b2, Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** (id, h) rows of a words frame: the distinct n-word shingle
    * hashes of its `_w` column, one native kernel call per doc. */
  private def shingleHashes(words: DataFrame, idCol: String,
      n: Int): DataFrame =
    words.select(col(idCol),
      explode(graft.functions.NativeText.shingleHashes(col("_w"), n)).as("h"))

  /** The rows of `d` (keyed by `idCol`) whose doc is an endpoint of a
    * (d1, d2) candidate pair — the semi-join every verify runs BEFORE
    * it counts overlaps, so only candidate docs are shingled or
    * self-joined. */
  private def candidateDocs(d: DataFrame, idCol: String,
      cands: DataFrame): DataFrame = {
    val ids = cands.select(col("d1").as(idCol))
      .union(cands.select(col("d2").as(idCol))).distinct()
    d.join(ids, Seq(idCol), "left_semi")
  }

  /** Exact Jaccard for the given candidate pairs over an (id, h)
    * distinct shingle table that callers have already cut down to the
    * candidate docs (filtering the corpus BEFORE shingling spares each
    * verify subtree from re-deriving the full corpus's shingles).
    * Output: (d1, d2, jaccard). */
  def verifyJaccardOnCandidates(sh: DataFrame, idCol: String,
      candidates: DataFrame): DataFrame =
    candidateOverlaps(sh, idCol, candidates)
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c")).cast("double"))
          .as("jaccard"))

  /** The exact overlap body shared by the Jaccard and containment
    * verifies: (d1, d2, c, n1, n2) per candidate pair, with c the
    * number of common shingles and n1, n2 the two docs' shingle counts.
    * The shingle self-join on `h` counts every co-occurring doc pair of
    * `sh`, then a semi-join keeps the candidates. */
  private def candidateOverlaps(sh: DataFrame, idCol: String,
      candidates: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val s1 = sh.toDF("d1", "h")
    val s2 = sh.toDF("d2", "h")
    s1.join(s2, Seq("h")).where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
      .join(candidates, Seq("d1", "d2"), "left_semi")
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
  }

  /** The rarest-first ranked shingle relation (id, h, pos, n) both
    * AllPairs candidate generators read: per-shingle document
    * frequency joined back and ranked per doc by (df, h), plus the
    * doc's shingle count. THRESHOLD-INDEPENDENT — the Jaccard and
    * containment gates differ only in the prefix cut they apply on
    * top, so callers running several set-similarity operators over one
    * corpus stage THIS relation once (at 100 TB it is the stored
    * rarest-first posting index) instead of re-paying the df
    * aggregation and the per-doc rank window per operator. The rank
    * and the whole-doc size use one doc-id partitioning — one
    * exchange, two Window operators. */
  def rankedShingles(sh: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col(idCol))
    sh.join(dfreq, "h")
      .select(col(idCol), col("h"),
        row_number().over(byDoc.orderBy(col("df"), col("h"))).as("pos"),
        count(lit(1)).over(byDoc).as("n"))
  }

  /** EXACT n-gram Jaccard self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, WWW'07; Xiao et
    * al., WWW'08), re-expressed as DataFrame joins. Unlike
    * [[minhashNearDups]] (probabilistic recall from the LSH band
    * curve), this returns EXACTLY the pairs with Jaccard ≥ τ over
    * distinct word-shingles, with no all-pairs comparison:
    *
    *  1. global document frequency per shingle (one groupBy) defines a
    *     rarest-first total order (df, h);
    *  2. each doc indexes only its PREFIX under that order — the first
    *     `n − ⌈τ·n⌉ + 1` of its `n` shingles. Correctness (exactness):
    *     J(x,y) ≥ τ ⇒ overlap o ≥ τ·(|x|+|y|)/(1+τ) ≥ ⌈τ·max(|x|,|y|)⌉,
    *     so the smallest common shingle under the global order must sit
    *     inside BOTH prefixes (else the ≥ ⌈τ·n⌉ common shingles of that
    *     doc would all fit in its last ⌈τ·n⌉ − 1 positions — pigeonhole);
    *  3. candidates come from the prefix-prefix equi-join plus the size
    *     filter τ·n₂ ≤ n₁ ≤ n₂/τ, then exact verification
    *     ([[verifyJaccardOnCandidates]]) touches candidates only.
    *
    * Inputs: `sh` is the (id, h) distinct shingle table and `ranked`
    * its [[rankedShingles]] relation — both typically staged
    * ([[graft.Staging]]; at 100 TB the shingle table is a stored
    * index), so several exact operators share one corpus shingling.
    * Verification semi-joins the SAME table instead of re-shingling
    * candidate docs, so the corpus is tokenized exactly once across
    * the whole family. The candidate pair list is the one eager cut,
    * registered with the session ([[graft.Staging.registerPinned]]).
    *
    * 100 TB shape: rarest-first ordering puts low-df shingles in the
    * prefixes, so inverted-index buckets are inherently tiny — hot
    * boilerplate shingles (the skew hazard of a naive shingle
    * self-join) land in suffixes and never generate candidates. The
    * window rank and size count share one hash-partition of the
    * shingle table by doc id; the df table is shingle-keyed and
    * shuffles once. Reference behavior context: the reference dedups
    * via content etags only (data_identifiers.py); this generalizes
    * its exact-dup semantics to exact set-similarity. */
  def jaccardSelfJoinFromShingles(sh: DataFrame, idCol: String,
      threshold: Double, ranked: DataFrame): DataFrame = {
    val cands = graft.Staging.registerPinned(sh.sparkSession,
      Graph.cut(jaccardCandidatesFromRanked(ranked, idCol, threshold)))
    verifyJaccardOnCandidates(candidateDocs(sh, idCol, cands), idCol, cands)
      .where(col("jaccard") >= threshold)
  }

  /** Prefix-filtered candidate pairs over a [[rankedShingles]]
    * relation — an exact-recall superset of all pairs with Jaccard ≥
    * `threshold` (see [[jaccardSelfJoinFromShingles]] for the
    * pigeonhole argument). Exposed separately so the pruning claim is
    * testable: a spec asserts candidates ⊇ true pairs AND ≪ the
    * all-pairs count. */
  def jaccardCandidatesFromRanked(ranked: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val prefix = ranked.where(
      col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
    val p1 = prefix.select(col(idCol).as("d1"), col("h"), col("n").as("n1"))
    val p2 = prefix.select(col(idCol).as("d2"), col("h"), col("n").as("n2"))
    p1.join(p2, Seq("h"))
      .where(col("d1") < col("d2") &&
        col("n1") >= lit(threshold) * col("n2") &&
        col("n2") >= lit(threshold) * col("n1"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** EXACT n-gram CONTAINMENT self-join — the subset-duplicate
    * detector: C(x,y) = |x∩y| / min(|x|,|y|) ≥ τ flags a short doc
    * embedded in a longer one (quote farms, wrapper boilerplate,
    * truncated re-crawls) that Jaccard structurally misses — J of a
    * doc contained in one 3× its size is ≤ 1/3 no matter how complete
    * the containment. Same AllPairs discipline and the same staged
    * inputs as [[jaccardSelfJoinFromShingles]], adapted: containment
    * has NO size-ratio filter (any size pair can match), so the
    * prefix-pigeonhole applies to the SMALLER side only — o ≥
    * ⌈τ·n_min⌉ forces a common shingle into the smaller doc's
    * rarest-first prefix, while the larger doc contributes its FULL
    * shingle list to the join. Candidates = prefix(smaller) ⋈ full
    * (larger); exact verification re-counts overlap on candidate docs
    * only. Output: (d1, d2, containment).
    *
    * 100 TB shape: the prefix side is rarest-first (tiny buckets); the
    * full side carries hot shingles, but a join bucket is
    * prefixCount(h) × df(h) and prefixCount(h) ≈ 0 for hot h — the
    * boilerplate hazard sits on the side that is almost never probed.
    * One shingle-keyed shuffle for df, one doc-keyed exchange shared
    * by the rank window and size count, same as Jaccard. */
  def containmentSelfJoinFromShingles(sh: DataFrame, idCol: String,
      threshold: Double, ranked: DataFrame): DataFrame = {
    val cands = graft.Staging.registerPinned(sh.sparkSession,
      Graph.cut(containmentCandidatesFromRanked(ranked, idCol, threshold)))
    candidateOverlaps(candidateDocs(sh, idCol, cands), idCol, cands)
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / least(col("n1"), col("n2")).cast("double"))
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Prefix(smaller) ⋈ full(larger) candidate pairs for containment ≥
    * `threshold` over a [[rankedShingles]] relation — exact-recall
    * superset (pigeonhole on the smaller doc: o ≥ ⌈τ·n_min⌉ common
    * shingles cannot all avoid a prefix of length n_min − ⌈τ·n_min⌉ +
    * 1). Size-equal pairs are caught from whichever side's prefix
    * shares a shingle with the other's full list; output is normalized
    * to d1 < d2. */
  def containmentCandidatesFromRanked(ranked: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val prefix = ranked.where(
      col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
    val p1 = prefix.select(col(idCol).as("da"), col("h"), col("n").as("na"))
    val f2 = ranked.select(col(idCol).as("db"), col("h"), col("n").as("nb"))
    p1.join(f2, Seq("h"))
      .where(col("na") < col("nb") ||
        (col("na") === col("nb") && col("da") =!= col("db")))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
      .distinct()
  }

  /** EXACT duplicated-passage detection — word-window-granularity
    * ExactSubstr (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22, §4.1, re-expressed relationally):
    * every k-word window occurring in ≥ 2 distinct documents, with its
    * document count. Catches passage-level duplication (boilerplate
    * headers, licenses, quotations) that whole-document near-dup
    * misses when the surrounding documents are dissimilar — the
    * complement of [[minhashNearDups]]/[[jaccardSelfJoinFromShingles]],
    * which rank whole docs. Per-doc windows are DISTINCT
    * ([[shingles]]), so the count IS the doc count without a
    * countDistinct.
    *
    * 100 TB shape: one explode + one hash groupBy with map-side
    * partial aggregation — no joins, no windows; the same plan family
    * as the shingle table. This string form keeps spans readable (and
    * DuckDB-replayable for the oracle); [[duplicatedSpanHashes]] is
    * the scale twin whose shuffle carries only (hash, count).
    * Reference context: the reference dedups via whole-record content
    * etags only (data_identifiers.py); this generalizes its exact-dup
    * semantics below document granularity. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame =
    docs.select(col(idCol), explode(shingles(col(textCol), k)).as("span"))
      .groupBy(col("span")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)

  /** Hash-only twin of [[duplicatedSpans]] for corpora where moving
    * span STRINGS through the shuffle is the cost (k·avg-word bytes
    * per window): the native kernel hashes windows in one pass and
    * only 8-byte hashes shuffle. A 64-bit cross-doc collision is the
    * only divergence source (negligible and deterministic — the same
    * trade the candidate-join hashes make; parity-spec'd at test
    * scale). */
  def duplicatedSpanHashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame =
    shingleHashes(docs.select(col(idCol), split(col(textCol), " ").as("_w")),
        idCol, k)
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)

  /** APPLY step of passage dedup (the "deduplicate" in Lee et al.
    * ACL'22 §4.1, keep-one-occurrence convention): scrub every k-word
    * window occurring in ≥ 2 distinct documents from every document
    * EXCEPT the minimum-id document containing it — the same
    * canonical-keeper convention cluster resolution uses (min label).
    * Overlapping duplicated windows union per document; surviving
    * words keep their original order; the keeper document keeps all
    * its occurrences.
    *
    * Shape: positional window hashes in ONE native digest pass per
    * window (the md5-based [[hash60]] so the oracle can replay the
    * key; a parity spec pins the kernel against its HOF Column form,
    * which re-reads k array slots and re-hashes a built string per
    * window, measured ~2× the whole query) → hash-grouped keeper
    * election → covered-index explode (k× the duplicated-window count
    * only, not the corpus) → per-doc index set → one index-filter
    * pass over the original words. Shuffles are all key-hashed
    * aggregations/joins; nothing all-pairs. */
  def scrubDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    val others = docs.columns.filterNot(_ == textCol).map(col).toSeq
    val withW = docs.withColumn("_w", split(col(textCol), " "))
    // materialize the positional-hash explode ONCE: its two consumers
    // (the keeper-election aggregate keyed by hash, the covered join
    // keyed by hash then re-grouped by doc) would otherwise each
    // re-derive the widest intermediate of the pipeline from the scan.
    // The eager cut on the (small) per-doc coverage sets
    // materializes both cache readers and cuts lineage, so the window
    // blocks are released before the final corpus pass: one
    // derivation, no cache residue.
    val wins = withW.select(col(idCol), posexplode(
        graft.functions.NativeText.spanHashes(col("_w"), k)).as(Seq("_pos", "_h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val covered = try {
      val dups = wins.groupBy(col("_h"))
        .agg(countDistinct(col(idCol)).as("_nd"), min(col(idCol)).as("_keeper"))
        .where(col("_nd") >= 2)
      graft.Staging.registerPinned(wins.sparkSession, Graph.cut(
        wins.join(dups, "_h")
          .where(col(idCol) =!= col("_keeper"))
          .select(col(idCol),
            explode(sequence(col("_pos"), col("_pos") + (k - 1))).as("_ix"))
          .groupBy(col(idCol)).agg(collect_set(col("_ix")).as("_cov"))))
    } finally wins.unpersist(false)
    withW.join(covered, Seq(idCol), "left")
      .select(others :+
        when(col("_cov").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("_w"), (wd, i) => !array_contains(col("_cov"), i)),
            " ")).as(textCol): _*)
  }

  /** End-to-end MinHash near-dup: shingle → sign → band → verify.
    * With 16×4 bands, a pair at Jaccard 0.8 is missed with probability
    * (1-0.8⁴)¹⁶ ≈ 2e-4 and at 0.95+ effectively never — candidates are
    * then *exactly* verified, so precision is 1 and recall is the band
    * curve. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val withWords = docs.select(col(idCol), split(col(textCol), " ").as("_w"))
    // signatures via the native one-pass kernel expression: per-row
    // work only — the shingle-explode → 64-min-aggregate shuffle (the
    // corpus × shingles intermediate, by far the widest table of this
    // pipeline at scale) disappears from the plan. The verify stage
    // below still hashes shingle STRINGS (it IS the ground truth);
    // candidate generation is free to use any minhash family.
    val sigs = withWords
      .select(col(idCol),
        graft.functions.NativeText.minhashSig(col("_w"), shingleSize).as("sig"))
      .where(size(col("sig")) > 0)
    nearDupsFromSigs(withWords, sigs, idCol, shingleSize, threshold)
  }

  /** [[minhashNearDups]] over a PRECOMPUTED signature table — the form
    * a composed pipeline uses when the signature build is a staged/
    * stored product shared with its incremental-maintenance twin
    * ([[graft.queries.PipelineQueries]] stages it once per session via
    * [[graft.Staging]]; at 100 TB it is THE stored signature table).
    * `sigs` must be (idCol, sig) rows exactly as the batch operator
    * would compute them ([[graft.functions.NativeText.minhashSig]]
    * over the single-space word split, empty signatures dropped) —
    * candidate generation and the exact-Jaccard verify are then
    * identical to the self-computing form. */
  def minhashNearDupsFromSigs(docs: DataFrame, sigs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val withWords = docs.select(col(idCol), split(col(textCol), " ").as("_w"))
    nearDupsFromSigs(withWords, sigs, idCol, shingleSize, threshold)
  }

  private def nearDupsFromSigs(withWords: DataFrame, sigs: DataFrame,
      idCol: String, shingleSize: Int, threshold: Double): DataFrame = {
    // eager cut on the (small) candidate pair list: its
    // THREE consumers below (the two candidate-doc projections and the
    // verify semi-join) would each re-run the full band self-join
    // (duplicate-sized residue only)
    val cands = graft.Staging.registerPinned(sigs.sparkSession,
      Graph.cut(lshCandidates(sigs, idCol)))
    // verification re-shingles only the candidate docs: the semi-join
    // runs BEFORE the per-doc shingle-hash kernel, so the
    // full corpus is shingled exactly once (the signature pass) instead
    // of once per verify subtree
    val shCand = shingleHashes(candidateDocs(withWords, idCol, cands),
      idCol, shingleSize)
    verifyJaccardOnCandidates(shCand, idCol, cands)
      .where(col("jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash near-dup: a delta batch against an
    * already-signed base corpus — the maintenance shape at 100 TB,
    * where re-signing (let alone re-pairing) the full corpus per
    * ingest batch is exactly the cost to avoid. Only the DELTA is
    * shingled and signed; the base contributes its PRECOMPUTED
    * signature table (built once by the native kernel and stored —
    * 64 longs/doc; at scale its 16 (band, bucket) rows per doc are a
    * stored index too, so the base text is touched only for the
    * candidate docs the verify step semi-joins out). Candidates are
    * delta×base band collisions (one equi-join of the delta's band
    * rows against the base band table) plus delta-internal pairs;
    * base×base pairs are never formed — that work was done when the
    * base was built. Candidates are then EXACTLY Jaccard-verified
    * like the batch operator, so precision is 1 and recall is the
    * same 16×4 band curve. Base and delta ids must be disjoint.
    * Output: (d1, d2, jaccard), d1 < d2 canonical. */
  def incrementalNearDups(baseDocs: DataFrame, baseSigs: DataFrame,
      deltaDocs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val deltaWords = deltaDocs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
    val deltaSigs = deltaWords.select(col(idCol),
        graft.functions.NativeText.minhashSig(col("_w"), shingleSize).as("sig"))
      .where(size(col("sig")) > 0)
    incrementalNearDupsFromSigs(baseDocs, baseSigs, deltaDocs, deltaSigs,
      idCol, textCol, shingleSize, threshold, maxBucketSize)
  }

  /** [[incrementalNearDups]] with the DELTA's signatures also
    * precomputed — the staged-pipeline form where one signature build
    * covers base and delta (filtered apart by the caller) and the
    * streaming-maintainer form where the batch's signatures are
    * computed once and both probed AND appended to the store. */
  def incrementalNearDupsFromSigs(baseDocs: DataFrame, baseSigs: DataFrame,
      deltaDocs: DataFrame, deltaSigs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val deltaWords = deltaDocs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
    val deltaBands0 = bandBuckets(deltaSigs, idCol)
    val baseBands0 = bandBuckets(baseSigs, idCol)
    // the batch path's hot-bucket guard, incremental form: bucket
    // population is base+delta COMBINED (a boilerplate bucket is hot
    // regardless of which side its members arrived on); the hot set is
    // tiny, so both prunes are broadcast anti-joins. At scale the base
    // band counts are a stored aggregate maintained with the band
    // table — recomputing them here from baseSigs is the test-harness
    // stand-in, not the cost model.
    val hot = deltaBands0.unionByName(baseBands0)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n")).where(col("_n") > maxBucketSize)
      .select(col("band"), col("bucket"))
    // the USING join moves the join columns first — re-select into the
    // (id, band, bucket) order the positional toDF renames below assume
    val deltaBands = deltaBands0.join(hot, Seq("band", "bucket"), "left_anti")
      .select(col(idCol), col("band"), col("bucket"))
    val baseBands = baseBands0.join(hot, Seq("band", "bucket"), "left_anti")
      .select(col(idCol), col("band"), col("bucket"))
    val cross = deltaBands.toDF("da", "band", "bucket")
      .join(baseBands.toDF("db", "band", "bucket"), Seq("band", "bucket"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
    val dd = deltaBands.toDF("d1", "band", "bucket")
      .join(deltaBands.toDF("d2", "band", "bucket"), Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    // same candidate-list cut as the batch path: three consumers,
    // band joins run once
    val cands = graft.Staging.registerPinned(baseDocs.sparkSession,
      Graph.cut(cross.union(dd).distinct()))
    val allWords = baseDocs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .union(deltaWords)
    val shCand = shingleHashes(candidateDocs(allWords, idCol, cands),
      idCol, shingleSize)
    verifyJaccardOnCandidates(shCand, idCol, cands)
      .where(col("jaccard") >= threshold)
  }

  // --- SimHash ----------------------------------------------------------

  val SimBits = 60       // bits of the md5-derived word hash we use
  val SimBands = 4       // 4 bands of 15 bits ⇒ hamming ≤ 3 recall = 1
  val SimBandBits: Int = SimBits / SimBands
  val SimMaxHamming = 3

  /** Near-dup pairs with hamming(simhash) ≤ maxHamming, found by band
    * blocking: with `SimBands` bands, any pair within hamming
    * `SimBands - 1` shares at least one identical band (pigeonhole), so
    * recall is exactly 1 for maxHamming ≤ 3 — no all-pairs scan. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = SimMaxHamming): DataFrame = {
    require(maxHamming <= SimBands - 1, "banding only guarantees recall ≤ bands-1")
    // native one-pass kernel (md5-60bit per distinct word, oracle
    // bit-parity) — replaces the word-explode + 60-sum aggregation
    val sh = docs.select(col(idCol),
      graft.functions.NativeText.simhash60(split(col(textCol), " ")).as("simhash"))
    val mask = (1L << SimBandBits) - 1
    // cut the banded relation once: it feeds BOTH sides of the bucket
    // self-join, and uncut each side re-ran the simhash kernel scan +
    // band explode (guide §7.2 duplicated subtrees)
    val bands = graft.Staging.registerPinned(docs.sparkSession, Graph.cut(
      sh.select(col(idCol), col("simhash"), posexplode(
          array((0 until SimBands).map(b =>
            shiftright(col("simhash"), b * SimBandBits).bitwiseAND(lit(mask))): _*)))
        .toDF(idCol, "simhash", "band", "bucket")))
    val b1 = bands.toDF("d1", "h1", "band", "bucket")
    val b2 = bands.toDF("d2", "h2", "band", "bucket")
    b1.join(b2, Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    * merge/purge SNM, the third blocking discipline next to LSH
    * banding and prefix filtering): globally order documents by a
    * blocking key (here the text's first `keyLen` chars), compare
    * each document only against its next `window` neighbors in that
    * order, and keep pairs whose distinct-word Jaccard clears
    * `threshold`. Candidate count is EXACTLY n·window regardless of
    * data — the property that makes SNM the predictable-cost member
    * of the family (LSH's bucket sizes are data-dependent); the price
    * is recall limited to near-dups that sort near each other, which
    * is why its classic use is short record linkage keys, not long
    * free text.
    *
    * The global rank uses the repo's two-level form (the
    * [[graft.operators.Corpus.shuffleOrder]] shape): range-bucket the
    * corpus, row_number within buckets, cumulative bucket bases
    * broadcast back — no unpartitioned window ever sees the corpus.
    * Bucket boundaries are SAMPLED QUANTILES of the full sort tuple
    * (key, id), not a fixed key prefix: a value-hash sample
    * (~64·buckets rows, one bounded staged collect — the IVF-codebook
    * discipline) is sorted and cut at even ranks, and because the id
    * tie-break participates, a boundary can fall MID-TIE — a corpus
    * where most documents share one leading prefix ("the …") still
    * splits into balanced buckets instead of collapsing into one
    * window partition's sort. Boundaries become struct literals, so
    * the bucket id is a pure row function (every plan branch agrees;
    * recomputation cannot skew it) and monotone in the sort order
    * (bucket-major order = key order, the rank invariant).
    * Neighbor pairing is an equi-join on rank+δ (δ exploded 1..w) —
    * shuffle on integers, no range predicate. Jaccard is exact
    * integer set arithmetic + one IEEE division, rounded to 6. */
  def sortedNeighborPairs(docs: DataFrame, idCol: String,
      textCol: String, window: Int, threshold: Double,
      keyLen: Int = 16, numBuckets: Int = 32,
      stageKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = snmKeyed(docs, idCol, textCol, keyLen, numBuckets, stageKey)
    val wLocal = Window.partitionBy(col("_b"))
      .orderBy(col("_k"), col("_id"))
    val wBase = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = keyed.groupBy(col("_b")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_base", sum(col("_cnt")).over(wBase) - col("_cnt"))
      .select(col("_b"), col("_base"))
    val ranked = keyed
      .withColumn("_lr", row_number().over(wLocal))
      .join(broadcast(bases), Seq("_b"))
      .select((col("_base") + col("_lr")).as("_rn"), col("_id"),
        col("_ws"))
    val right = ranked.select(col("_rn").as("_rnb"),
      col("_id").as("_idb"), col("_ws").as("_wsb"))
    val inter = size(array_intersect(col("_ws"), col("_wsb"))).cast("double")
    val union = size(array_distinct(concat(col("_ws"), col("_wsb"))))
      .cast("double")
    ranked
      .withColumn("_d", explode(sequence(lit(1), lit(window))))
      .withColumn("_rnb", col("_rn") + col("_d"))
      .join(right, "_rnb")
      .withColumn("j6", round(inter / union, 6))
      .where(col("j6") >= threshold)
      .select(least(col("_id"), col("_idb")).as("doc_a"),
        greatest(col("_id"), col("_idb")).as("doc_b"), col("j6"))
  }

  /** The keyed + range-bucketed relation behind
    * [[sortedNeighborPairs]]: (_id, _ws distinct word set, _k sort
    * key, _b bucket). Exposed inside the package so the skew spec can
    * assert bucket balance directly on a shared-prefix corpus.
    *
    * Staged build: one count + one bounded deterministic sample
    * collect (value-hash filtered, so re-runs draw the same rows).
    * The sampled (key, id) tuples are sorted IN Spark (no driver
    * comparator has to understand the id type) and cut at even ranks
    * into `numBuckets − 1` boundary literals; `_b` = number of
    * boundaries strictly below the row's own (key, id) struct —
    * a monotone pure-row function, ≤ 63 codegen'd struct compares. */
  private[graft] def snmKeyed(docs: DataFrame, idCol: String,
      textCol: String, keyLen: Int, numBuckets: Int,
      stageKey: Option[String] = None): DataFrame = {
    val keyed = docs.select(col(idCol).as("_id"),
      array_distinct(split(col(textCol), " ")).as("_ws"),
      substring(col(textCol), 1, keyLen).as("_k"))
    // boundary estimation never touches the word sets — a slim
    // (key, id) projection off the raw input
    val slim = docs.select(substring(col(textCol), 1, keyLen).as("_k"),
      col(idCol).as("_id"))
    keyed.withColumn("_b", rangeBucketExpr(slim, numBuckets, stageKey))
  }

  /** Bucket-id expression for a two-level global rank: sampled
    * quantile boundaries of the (`_k`, `_id`) sort tuple, returned as
    * a monotone pure-row `Column` (a sum of ≤ `numBuckets − 1`
    * codegen'd struct compares against collected boundary literals).
    * `slim` must expose exactly the sort columns `_k` and `_id`; the
    * boundaries are drawn by ONE bounded deterministic staged collect
    * (value-hash filtered sample of ~64·buckets rows, sorted in
    * Spark, cut at even ranks), so every plan branch — the count-
    * per-bucket bases and the row_number window — agrees on the same
    * bucketing and recomputation cannot skew it. Shared by
    * [[sortedNeighborPairs]] and [[graft.operators.Fuzzy.snmLinkage]].
    *
    * `stageKey`: when set, the boundary table (≤ numBuckets − 1 tiny
    * rows) registers in [[graft.Staging]] under that key, so the
    * count + sample derivation runs ONCE per (session, key) and its
    * cost is billed to the staging map instead of landing inside
    * whichever query touches the operator first (the r19 q_linkage
    * close-pair drift: 2.05 → 3.69 s from re-deriving per run while
    * the warm retry read 0.74 s). Key on the INPUT identity (dir +
    * key expression + keyLen + numBuckets): a staged boundary set
    * replayed against a different input would mis-bucket silently. */
  private[graft] def rangeBucketExpr(slim: DataFrame,
      numBuckets: Int, stageKey: Option[String] = None): Column = {
    require(numBuckets >= 1 && numBuckets <= 4096, "1 <= numBuckets <= 4096")
    def derive(): DataFrame = {
      val n = if (numBuckets == 1) 0L else slim.count()
      val target = math.max(numBuckets * 64, 1024)
      val rows: Seq[org.apache.spark.sql.Row] =
        if (n == 0) Nil
        else {
          val mod = 1000000L
          val keep = math.max(1L,
            math.min(mod, (target.toDouble / n * mod).toLong))
          // NULL sort keys are excluded from the SAMPLE only: a NULL
          // boundary key would build a NullType struct literal that
          // fails analysis against the column's type. NULL-key DATA
          // rows still bucket fine — the struct compare yields NULL →
          // otherwise(0) → bucket 0, which is where NULLS FIRST
          // ordering puts them anyway (the rank invariant holds).
          val sample = slim
            .filter(col("_k").isNotNull)
            .filter(pmod(xxhash64(col("_id")), lit(mod)) < lit(keep))
            .orderBy(col("_k"), col("_id"))
            .collect()
          if (sample.isEmpty) Nil
          else {
            val step = sample.length.toDouble / numBuckets
            (1 until numBuckets)
              .map(i => sample(math.min((i * step).toInt, sample.length - 1)))
              .distinct
          }
        }
      val jl = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach(r =>
        jl.add(org.apache.spark.sql.Row(r.get(0), r.get(1))))
      slim.sparkSession.createDataFrame(jl, slim.schema)
    }
    val boundaryFrame = stageKey match {
      case Some(k) => graft.Staging.stage(slim.sparkSession, k)(derive())
      case None => derive()
    }
    val boundaries: Seq[(Any, Any)] =
      boundaryFrame.collect().toSeq.map(r => (r.get(0), r.get(1)))
    val keyS = struct(col("_k"), col("_id"))
    boundaries
      .map { case (k, id) =>
        when(keyS > struct(lit(k), lit(id)), 1).otherwise(0) }
      .reduceOption(_ + _).getOrElse(lit(0))
  }
}
