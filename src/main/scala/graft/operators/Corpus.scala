package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data assembly:
  * deterministic dataset splits and sequence packing.
  */
object Corpus {

  /** Deterministic train/val/test assignment by content-stable hash:
    * md5-derived 60-bit value of the id column modulo 100 against
    * cumulative percentage cuts. Content-hash splitting survives
    * re-runs, re-partitioning, and corpus growth (a document's split
    * never changes), unlike positional or random sampling — and the
    * md5 base makes the assignment replayable by any SQL engine. */
  def hashSplit(id: Column, trainPct: Int, valPct: Int): Column = {
    val h = pmod(TextDedup.hash60(id.cast("string")), lit(100))
    when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct `n`-word shingles with any benchmark
    * document — the standard guard against evaluation data leaking
    * into a training corpus. The benchmark side (eval suites: small by
    * construction) broadcasts, so the corpus streams through one scan
    * + a broadcast join keyed on shingle hash; only colliding pairs
    * reach the count. Output: (doc_id, bench_id, n_shared). */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 5, minShared: Long = 3): DataFrame = {
    // distinct shingle hashes via the native one-pass kernel — joining
    // on them is string-join-equivalent up to 64-bit collisions (the
    // standard trade of every hash-keyed candidate join here)
    def shingleHashes(d: DataFrame, outId: String): DataFrame = d
      .select(col(idCol).as(outId),
        explode(graft.functions.NativeText.shingleHashes(
          split(col(textCol), " "), n)).as("h"))
    shingleHashes(corpus, "doc_id")
      .join(broadcast(shingleHashes(bench, "bench_id")), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS selection): over each doc's positional
    * k-word rolling-hash sequence, every window of `window` consecutive
    * hashes contributes its MINIMUM; the doc's fingerprint set is the
    * distinct selected values. Guarantees: any shared substring of at
    * least `window + shingleSize - 1` words between two docs yields at
    * least one shared fingerprint, while storing only ~2/(window+1) of
    * the hash stream — the standard plagiarism / near-copy index key.
    * A doc shorter than one full window contributes the min of its
    * whole (non-empty) hash sequence, matching the paper's "at least
    * one fingerprint per document" convention; docs shorter than one
    * shingle contribute nothing.
    *
    * Plan shape: one codegen'd digest pass per doc
    * ([[graft.functions.NativeText.spanHashes]] — md5-based hash60,
    * byte-replayable in the DuckDB oracle), a posexplode, and ONE
    * per-doc ordered window (rows frame, no shuffle beyond the doc
    * key); distinct collapses map-side. Selection is by VALUE, which
    * is tie-rule-independent (robust vs leftmost winnowing differ only
    * in selected positions, never in the value set).
    *
    * Output: (idCol, fp) distinct. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, window: Int = 5): DataFrame = {
    require(window >= 1, "window >= 1")
    val spans = docs.select(col(idCol),
      posexplode(graft.functions.NativeText.spanHashes(
        split(col(textCol), " "), shingleSize)).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val all = Window.partitionBy(col(idCol))
    spans
      .select(col(idCol), col("pos"),
        min(col("h")).over(byDoc).as("fp"),
        count(lit(1)).over(all).as("_m"))
      // full windows only (a trailing partial window's min can exceed
      // every full-window min and would add spurious fingerprints);
      // short docs (no full window) keep pos 0 = min of everything
      .where(col("pos") <= greatest(col("_m") - window, lit(0L)))
      .select(col(idCol), col("fp")).distinct()
  }

  /** Fingerprint-overlap candidate pairs — winnowing's purpose (the
    * plagiarism / near-copy detector): docs sharing at least
    * `minShared` winnowed fingerprints, from ONE fp-keyed equi-join of
    * the [[winnowFingerprints]] relation with itself. Fingerprints
    * shared by more than `maxDocFreq` docs are dropped first — the
    * boilerplate guard every hash-keyed candidate join here carries (a
    * license-header fingerprint in n docs would otherwise form an n²
    * join bucket); dropping them loses only ties that common, exactly
    * the hot-bucket trade [[TextDedup]] documents. Output
    * (d1, d2, n_shared), d1 < d2. */
  def winnowMatches(fps: DataFrame, idCol: String,
      minShared: Long = 2, maxDocFreq: Long = 100): DataFrame = {
    // cut the df-pruned index once: it feeds BOTH sides of the
    // self-join, and uncut each side re-ran the df aggregate + join
    // over the fingerprint index (guide §7.2 duplicated subtrees)
    val rare = graft.Staging.registerPinned(fps.sparkSession, Graph.cut(
      fps.select(col(idCol), col("fp"))
        .join(fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
          .where(col("_df") <= maxDocFreq).select(col("fp")), "fp")))
    rare.toDF("fp", "d1").join(rare.toDF("fp", "d2"), Seq("fp"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Document-frequency sufficient statistics of a fingerprint-index
    * slice ([[winnowFingerprints]] output): (fp, _df). Like
    * [[dsirStats]], the counts are EXACT MERGEABLE sufficient
    * statistics — the df of a union of disjoint doc sets is the
    * per-fp SUM of the parts' dfs ([[winnowMergeDfStats]]) — which is
    * what makes maintained-form matching exact: a STORED (fp, df)
    * table plus each delta batch's own delta-sized aggregate, merged
    * by addition, equals a full base+delta recompute bit-for-bit
    * (no sketch, no approximation to bound). At 100 TB the stats
    * table lives NEXT TO the stored fingerprint index (distinct-fp-
    * sized, far smaller than the (doc, fp) index itself) and each
    * maintenance batch touches it by key, never by re-aggregation. */
  def winnowDfStats(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))

  /** Merge winnow df-stats slices by per-fp addition (the exactness
    * argument in [[winnowDfStats]]; slices must come from DISJOINT
    * doc sets, which base/delta are by contract). */
  def winnowMergeDfStats(slices: DataFrame*): DataFrame = {
    require(slices.nonEmpty, "winnowMergeDfStats needs at least one slice")
    slices.reduceLeft(_ unionByName _)
      .groupBy(col("fp")).agg(sum(col("_df")).as("_df"))
  }

  /** INCREMENTAL fingerprint matching — the maintenance form of
    * [[winnowMatches]] at 100 TB: the base corpus's winnowed index is
    * STORED ([[winnowFingerprints]] output, `baseFps`) along with its
    * df-stats table ([[winnowDfStats]], `baseDfStats` — maintained by
    * addition-merge, never recomputed); a delta batch is fingerprinted
    * (winnowing is per-doc, so delta fps are exactly what a full
    * re-run would produce) and PROBES the stored index — delta×base
    * plus delta-internal pairs; base×base pairs are never re-formed.
    * The document-frequency prune sees the COMBINED base+delta
    * population, so the admitted pair set equals the batch operator's
    * restricted to pairs touching the delta (the q_dedup_incr
    * equivalence argument, fingerprint edition).
    * Output (d1, d2, n_shared), d1 < d2, at least one end a delta
    * doc. */
  def incrementalWinnowMatches(baseFps: DataFrame, baseDfStats: DataFrame,
      deltaDocs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, window: Int, minShared: Long,
      maxDocFreq: Long): DataFrame =
    incrementalWinnowMatchesFromFps(baseFps, baseDfStats,
      winnowFingerprints(deltaDocs, idCol, textCol, shingleSize, window),
      idCol, minShared, maxDocFreq)

  /** Convenience form computing the base df stats inline — ONE base
    * aggregate per call, so the streaming/incremental paths should
    * pass a maintained `baseDfStats` via the primary overload
    * instead. */
  def incrementalWinnowMatches(baseFps: DataFrame, deltaDocs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      window: Int = 5, minShared: Long = 2,
      maxDocFreq: Long = 100): DataFrame =
    incrementalWinnowMatches(baseFps, winnowDfStats(baseFps), deltaDocs,
      idCol, textCol, shingleSize, window, minShared, maxDocFreq)

  /** The probe step shared by the gate and the streaming maintainer,
    * over ALREADY-fingerprinted delta rows. The df contract is over
    * the combined base+delta population, but only fps PRESENT IN THE
    * DELTA can form an emitted pair (every pair shares a delta fp) —
    * so the merged df evaluates for the delta's fps only: one
    * delta-sized aggregate LEFT-joined against the stored stats
    * table. Per batch that is an O(delta) aggregate + a delta-keyed
    * lookup into the stats store + the fp-keyed index probe — the
    * r17 shape (re-aggregating the full base+delta (doc, fp)
    * population every batch) never happens. */
  private[graft] def incrementalWinnowMatchesFromFps(baseFps: DataFrame,
      baseDfStats: DataFrame, deltaFps: DataFrame, idCol: String,
      minShared: Long, maxDocFreq: Long): DataFrame = {
    val rareKeys = winnowDfStats(deltaFps)
      .join(baseDfStats.withColumnRenamed("_df", "_df_base"),
        Seq("fp"), "left")
      .where(col("_df") + coalesce(col("_df_base"), lit(0L)) <= maxDocFreq)
      .select(col("fp"))
    val rareDelta = deltaFps.select(col(idCol), col("fp")).join(rareKeys, "fp")
    val rareBase = baseFps.select(col(idCol), col("fp")).join(rareKeys, "fp")
    val cross = rareDelta.toDF("fp", "da")
      .join(rareBase.toDF("fp", "db"), Seq("fp"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
    val dd = rareDelta.toDF("fp", "d1")
      .join(rareDelta.toDF("fp", "d2"), Seq("fp"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    cross.unionByName(dd)
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-group quota sampling — the corpus-mixing primitive: keep at
    * most `k` documents per `groupCol` (source, domain, language …),
    * chosen in content-hash order so the sample is uniform-ish yet
    * fully reproducible (a document's selection depends only on its id
    * and its group's membership, never on partitioning or run order).
    *
    * Executes on the custom heap operator
    * ([[graft.plans.TopKPerGroup]]): the same single hash-partition
    * shuffle a row_number window would take, but per-group k-bounded
    * heaps instead of the full in-partition sort — O(n log k) and
    * O(groups·k) memory, so a pathologically hot group costs k rows of
    * buffer instead of a spilling sort. Output: input columns +
    * `pick_rank` (1-based). */
  def quotaSample(docs: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame =
    graft.plans.TopKPerGroup.topK(
        docs.withColumn("_h", TextDedup.hash60(col(idCol).cast("string"))),
        groupCols = Seq(groupCol), orderCols = Seq("_h", idCol), k = k)
      .drop("_h")

  /** The built-in formulation of [[quotaSample]] (row_number window →
    * shuffle + full in-partition sort) — kept as the executable
    * specification the custom operator is spec-pinned against. */
  def quotaSampleWindow(docs: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(TextDedup.hash60(col(idCol).cast("string")), col(idCol))
    docs.withColumn("pick_rank", row_number().over(w))
      .where(col("pick_rank") <= k)
  }

  /** PII patterns for [[piiScrub]], in the common Java-regex/RE2 subset
    * so any SQL engine replays them: email, NANP phone (+1-aaa-bbb-cccc),
    * dotted-quad IPv4. Order-independent — no placeholder re-matches a
    * later pattern (the placeholders carry no digits or '@'). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ips", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
  )

  /** PII redaction — the standard pre-training privacy pass: replace
    * every email / phone / IPv4 literal with a typed placeholder and
    * count what was removed per class. Pure per-row regex work: one
    * corpus scan, no shuffle, no UDF — `regexp_replace` and
    * `regexp_count` are built-in codegen expressions, so at 100 TB
    * this runs at scan speed and the counts aggregate for free.
    * Output: the input columns with `textCol` scrubbed in place plus
    * `n_<class>` counts per document. */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(docs) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
    }
    PiiPatterns.foldLeft(counted) { case (d, (_, pat, repl)) =>
      d.withColumn(textCol, regexp_replace(col(textCol), pat, repl))
    }
  }

  /** GPT-style sequence packing by concatenation: documents are laid
    * end-to-end in a deterministic order and cut into fixed
    * `chunkTokens` training sequences; each document's span of chunks
    * is derived from the running token total. Output columns:
    * `first_chunk`, `last_chunk` (0-based chunk ids the document
    * touches), `chunk_offset` (the document's start position inside
    * its first chunk).
    *
    * The running total is a window cumulative sum over the order
    * column with NO partitionBy — a single-task funnel at scale. This
    * global form is the oracle-checkable executable SPECIFICATION of
    * [[packChunksSharded]], the production form (identical arithmetic,
    * spec-pinned row-equal in CorpusSpec); use the sharded form for
    * anything larger than one task's worth of rows. */
  def packChunks(docs: DataFrame, orderCol: String, tokensCol: String,
      chunkTokens: Int): DataFrame = {
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("_cum", sum(col(tokensCol)).over(w))
      .withColumn("_start", col("_cum") - col(tokensCol))
      .withColumn("first_chunk", floor(col("_start") / chunkTokens))
      .withColumn("last_chunk",
        floor((col("_cum") - 1) / chunkTokens))
      .withColumn("chunk_offset", pmod(col("_start"), lit(chunkTokens.toLong)))
      .drop("_cum", "_start")
  }

  /** The production form of [[packChunks]] — standard two-level packing
    * under the global order (shardCol, orderCol):
    *
    *  1. per-shard cumulative token sum — `Window.partitionBy(shard)`,
    *     so every shard's cumsum is an independent task (the global
    *     form's single-task funnel becomes one task per shard);
    *  2. per-shard token totals (one hash-partitioned groupBy) turned
    *     into exclusive running base offsets by a window over the
    *     totals table — unpartitioned, but over ONE ROW PER SHARD
    *     (thousands, not billions; trivially one task);
    *  3. base offsets broadcast back and added — each document's
    *     global running total is base(shard) + local cumsum, and the
    *     chunk arithmetic is byte-identical to the global form's.
    *
    * Equality with [[packChunks]] under (shard, order) ordering — and
    * on any single-shard input under the bare order — is spec-pinned
    * (CorpusSpec) and oracle-gated (q_pack_chunks_sharded). */
  def packChunksSharded(docs: DataFrame, shardCol: String, orderCol: String,
      tokensCol: String, chunkTokens: Int): DataFrame = {
    val wLocal = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBase = Window.orderBy(col(shardCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = docs.groupBy(col(shardCol))
      .agg(sum(col(tokensCol)).as("_tot"))
      .withColumn("_base", sum(col("_tot")).over(wBase) - col("_tot"))
      .select(col(shardCol), col("_base"))
    docs
      .withColumn("_lcum", sum(col(tokensCol)).over(wLocal))
      .join(broadcast(bases), Seq(shardCol))
      .withColumn("_cum", col("_base") + col("_lcum"))
      .withColumn("_start", col("_cum") - col(tokensCol))
      .withColumn("first_chunk", floor(col("_start") / chunkTokens))
      .withColumn("last_chunk", floor((col("_cum") - 1) / chunkTokens))
      .withColumn("chunk_offset", pmod(col("_start"), lit(chunkTokens.toLong)))
      .drop("_lcum", "_base", "_cum", "_start")
  }

  /** Weighted domain remixing — the corpus-mixture primitive that turns
    * per-source target weights into a physical corpus: a document whose
    * source has weight w appears floor(w) times, plus one more with
    * probability frac(w), decided by a content-stable hash draw so the
    * materialized mixture is exactly reproducible (a document's copy
    * count depends only on its id and its source's weight — never on
    * partitioning, run order, or an RNG stream). Weights arrive in
    * basis points (wt_bp = weight × 10⁴, integer) so the fractional
    * draw is exact integer arithmetic any SQL engine replays.
    *
    * Plan shape at 100 TB: the weight table is a per-source dimension
    * (tens of rows) — broadcast join — and the replication is one
    * `explode(sequence(...))` over the scan: no shuffle at all. Output:
    * the input columns + `epoch` (0-based copy number); weight-0
    * sources drop out entirely. */
  def remixByWeights(docs: DataFrame, weights: DataFrame,
      keyCol: String, idCol: String): DataFrame = {
    val draw = pmod(TextDedup.hash60(
      concat(col(idCol).cast("string"), lit(":remix"))), lit(10000))
    docs.join(broadcast(weights), keyCol)
      .withColumn("_copies", (col("wt_bp") / 10000).cast("int") +
        when(draw < pmod(col("wt_bp"), lit(10000)), 1).otherwise(0))
      .where(col("_copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(0), col("_copies") - 1)))
      .drop("_copies", "wt_bp")
  }

  /** Temperature-scaled mixture weights — the multilingual α-sampling
    * discipline (Conneau & Lample 2019; α < 1 flattens the source
    * distribution toward uniform, α = 1 keeps it natural): for source
    * s with n_s documents the corpus-size-preserving expected copy
    * count is
    *   w_s = N · n_s^(α−1) / Σ_t n_t^α
    * emitted as integer basis points (`wt_bp`), the weight contract
    * [[remixByWeights]] consumes, so temperature remixing is this
    * groups-sized weight table composed with the gated remix draw.
    *
    * Cross-engine determinism: each pow term of the normalizer is
    * quantized to micro-units BEFORE summation (the q_entropy
    * discipline — double sum order never matters), and the final
    * weight rounds to integer basis points, absorbing pow's ≤1-ulp
    * engine wobble. Plan: one groups-sized aggregate + a 1-row
    * broadcast scalar — nothing corpus-sized leaves its scan. */
  def temperatureWeights(docs: DataFrame, keyCol: String,
      alpha: Double): DataFrame =
    temperatureWeightsFromSizes(
      docs.groupBy(col(keyCol)).agg(count(lit(1)).as("_n")), keyCol, alpha)

  /** [[temperatureWeights]] from an already-aggregated (keyCol, _n)
    * size table — the incremental/streaming form: group sizes are
    * exact mergeable sufficient statistics (add them), so a
    * maintained count store yields weights bit-identical to the
    * batch recompute. */
  def temperatureWeightsFromSizes(sizes: DataFrame, keyCol: String,
      alpha: Double): DataFrame = {
    val z = sizes.agg(
      sum(round(pow(col("_n").cast("double"), lit(alpha)) * lit(1e6), 0)
        .cast("long")).as("_zq"),
      sum(col("_n")).as("_tot"))
    // wt_bp is LONG: under strong flattening a rare source in a huge
    // corpus can exceed Int.MaxValue basis points (α=0.3, n_s=1,
    // N≈1e9 → wt≈2e10 bp), and a silent int-cast clamp would diverge
    // from the oracle's arithmetic exactly at the scale that matters
    sizes.crossJoin(broadcast(z)).select(col(keyCol),
      round(lit(1e4) * col("_tot").cast("double")
          * pow(col("_n").cast("double"), lit(alpha - 1.0))
          / (col("_zq").cast("double") / lit(1e6)), 0)
        .cast("long").as("wt_bp"))
  }

  /** Sliding-window chunking — split each long document into
    * fixed-length token windows with overlap (the context-window prep
    * step for documents longer than the training sequence): windows
    * start every `stride` tokens; a document of n ≤ `maxLen` tokens is
    * one chunk, otherwise the window count is ceil((n−maxLen)/stride)+1
    * and the LAST window is clamped to end exactly at n (every emitted
    * window is full-length; the clamp is the no-padding-waste variant
    * of the Hugging Face `stride` semantics, and what makes the chunk
    * count exact instead of data-dependent on a ragged tail).
    *
    * Pure per-row array arithmetic over one scan — `split`, `sequence`,
    * `explode`, `slice` are all codegen built-ins, no shuffle, so this
    * runs at scan speed at any corpus size. Output: (id, chunk_seq
    * 0-based, start 0-based, n_tok, chunk_md5 of the space-rejoined
    * window — the fingerprint downstream exact-dedup consumes). */
  def chunkWithOverlap(docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int, stride: Int): DataFrame = {
    require(stride >= 1 && maxLen >= stride,
      s"need 1 <= stride <= maxLen, got stride=$stride maxLen=$maxLen")
    val words = split(col(textCol), " ")
    val n = size(words)
    val nChunks = when(n <= maxLen, lit(1L))
      .otherwise(ceil((n - maxLen).cast("double") / stride) + 1)
    docs
      .select(col(idCol), words.as("_w"), n.as("_n"), nChunks.as("_nc"))
      .withColumn("chunk_seq", explode(sequence(lit(0L), col("_nc") - 1)))
      .withColumn("start",
        least(col("chunk_seq") * stride, greatest(col("_n") - maxLen, lit(0))))
      .withColumn("n_tok", least(lit(maxLen), col("_n") - col("start")))
      .select(col(idCol), col("chunk_seq"), col("start").cast("long").as("start"),
        col("n_tok").cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice(col("_w"), (col("start") + 1).cast("int"),
            col("n_tok").cast("int"))).cast("binary"))
          .as("chunk_md5"))
  }

  /** Deterministic corpus shuffle — the global training-order
    * permutation: every document gets a dense global rank ordered by a
    * seeded content hash, so the epoch order is fully reproducible and
    * uncorrelated with ingest order, yet computed without ever funneling
    * the corpus through one task. Two-level rank, the same discipline as
    * [[packChunksSharded]]: documents hash into `buckets` ranges whose
    * within-bucket rank is an independent per-bucket window task; bucket
    * base offsets come from a cumulative sum over the per-bucket COUNTS
    * (one row per bucket — trivially tiny) broadcast back. Because the
    * bucket is the hash's high-order range, bucket-major +
    * within-bucket-hash order IS the global hash order: rank =
    * base(bucket) + local rank reproduces exactly the single
    * `row_number() OVER (ORDER BY hash, id)` an oracle replays. Output:
    * (rank 1-based, id). */
  def shuffleOrder(docs: DataFrame, idCol: String, seed: String,
      buckets: Int = 1024): DataFrame = {
    val keyed = docs.select(col(idCol),
      TextDedup.hash60(concat(col(idCol).cast("string"),
        lit(":shuffle:" + seed))).as("_k"))
      // range-bucket on the hash's high bits (exact integer division —
      // any monotone bucketing of _k keeps bucket-major = hash order)
      .withColumn("_b", expr(s"_k div ${(1L << 60) / buckets}").cast("int"))
    val wLocal = Window.partitionBy(col("_b"))
      .orderBy(col("_k"), col(idCol))
    val wBase = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = keyed.groupBy(col("_b")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_base", sum(col("_cnt")).over(wBase) - col("_cnt"))
      .select(col("_b"), col("_base"))
    keyed
      .withColumn("_lr", row_number().over(wLocal))
      .join(broadcast(bases), Seq("_b"))
      .select((col("_base") + col("_lr")).as("rank"), col(idCol))
  }


  /** Per-group quality-percentile trim: keep each group's best
    * `keepFrac` of rows by `scoreCol` (descending; ties broken by id
    * for determinism) — the "top X% per domain" curation cut applied
    * after any quality scorer. One window per group key (never a
    * global window); percent_rank is the standard SQL definition, so
    * the oracle replays it verbatim. */
  def percentileTrim(docs: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, keepFrac: Double): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    docs.withColumn("_pr", percent_rank().over(w))
      .where(col("_pr") <= keepFrac)
      .drop("_pr")
  }

  /** Deterministic token-budget draw per group: rows taken in
    * content-hash order (the seeded md5 hash60 every shuffle/sample op
    * shares — replayable, uncorrelated with ingest order) until the
    * group's cumulative token count reaches `budget`. The row that
    * crosses the budget is the last one kept (standard budgeted-draw
    * semantics: the draw stops AFTER the budget is hit, so the output
    * is never empty for a non-empty group). One per-group window, no
    * global funnel. */
  def tokenBudgetSample(docs: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, budget: Long, seed: String): DataFrame = {
    val keyed = docs.withColumn("_k",
      TextDedup.hash60(concat(col(idCol).cast("string"),
        lit(":budget:" + seed))))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_k"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.withColumn("_cum", sum(col(tokensCol)).over(w))
      .where(col("_cum") - col(tokensCol) < budget)
      .drop("_k", "_cum")
  }

  /** Corpus bigram language-model quality score — the classic
    * in-domain perplexity filter for training-data curation (a CCNet /
    * Gopher-style signal): train add-alpha-smoothed bigram statistics
    * over the WHOLE corpus, then score every document by its average
    * bigram log-probability under that model. Boilerplate, navigation
    * lists, and noise surprise the corpus model and score low; fluent
    * in-domain text scores high.
    *
    * Scale shape (the 100 TB path): the model IS two count tables —
    * bigram contexts bounded by observed vocabulary pairs and unigram
    * contexts by the vocabulary, both orders of magnitude smaller than
    * the corpus — built with one hash-partitioned aggregation each
    * (map-side partial combine), plus a single scalar vocabulary
    * count. Scoring re-joins the bigram stream against the count
    * tables on their own aggregation keys, so the exchanges line up,
    * and never collects anything to the driver. Nothing is quadratic
    * and no window spans the corpus.
    *
    * Output: (idCol, n_bigrams, avg_logprob rounded to 6 — the float
    * determinism convention the DuckDB oracle hash-compares under).
    * Documents with fewer than two tokens have no bigrams and drop
    * out, exactly as the oracle's `range(len(w) - 1)` does. */
  def bigramLmScore(docs: DataFrame, idCol: String, wordsCol: String,
      alpha: Double = 0.4): DataFrame = {
    val pairs = docs
      .filter(size(col(wordsCol)) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col(wordsCol), lit(1), size(col(wordsCol)) - 1),
        slice(col(wordsCol), lit(2), size(col(wordsCol)) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bigramCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val contextCounts = pairs.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = docs.select(explode(col(wordsCol)).as("w"))
      .agg(countDistinct(col("w")).as("vs"))
    pairs
      .join(bigramCounts, Seq("w1", "w2"))
      .join(contextCounts, Seq("w1"))
      .crossJoin(broadcast(vocab)) // 1-row corpus scalar
      .select(col(idCol), (log(
        (col("cb").cast("double") + lit(alpha)) /
          (col("cu").cast("double") + lit(alpha) * col("vs").cast("double"))))
        .as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
  }

  /** The per-occurrence bigram stream of a tokenized corpus:
    * (idCol, w1, w2), one row per adjacent word pair, docs shorter
    * than two tokens dropped — the shared front of every bigram-LM
    * operator here ([[bigramLmScore]], [[knCounts]],
    * [[knScoreFromCounts]]). */
  private def bigramPairs(docs: DataFrame, idCol: String,
      wordsCol: String): DataFrame = docs
    .filter(size(col(wordsCol)) >= 2)
    .select(col(idCol), explode(zip_with(
      slice(col(wordsCol), lit(1), size(col(wordsCol)) - 1),
      slice(col(wordsCol), lit(2), size(col(wordsCol)) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
    .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Bigram occurrence counts — the EXACT MERGEABLE sufficient
    * statistics of the interpolated Kneser-Ney model ([[knModel]]):
    * every derived quantity (context totals, continuation counts,
    * count-of-counts, the discount itself) is a pure function of this
    * one (w1, w2, cb) table, and the cb of a union of corpora is the
    * per-bigram SUM of the parts' cbs ([[knMergeCounts]]) — the
    * [[dsirStats]]/[[winnowDfStats]] maintenance discipline: at 100 TB
    * the stored counts table (observed-bigram-type-sized, orders of
    * magnitude below the corpus) is merged by addition per ingest
    * batch; the model is re-DERIVED from it in vocabulary-sized
    * aggregates, never re-counted from text. */
  def knCounts(docs: DataFrame, idCol: String, wordsCol: String): DataFrame =
    bigramPairs(docs, idCol, wordsCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))

  /** Merge bigram-count slices by per-(w1, w2) addition (the exactness
    * argument in [[knCounts]]; slices must come from disjoint document
    * sets, which base/delta are by contract). */
  def knMergeCounts(slices: DataFrame*): DataFrame = {
    require(slices.nonEmpty, "knMergeCounts needs at least one slice")
    slices.reduceLeft(_ unionByName _)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cb")).as("cb"))
  }

  /** Interpolated Kneser-Ney bigram model (Kneser & Ney, ICASSP 1995;
    * the estimator behind KenLM and therefore behind CCNet's
    * perplexity filter — Heafield WMT 2011, Wenzek et al. LREC 2020),
    * derived ENTIRELY from a [[knCounts]] table:
    *
    *   D        = n1 / (n1 + 2·n2)        (absolute discount from the
    *                                       count-of-counts n1, n2)
    *   Pcont(w2)= N1+(·w2) / B            (continuation probability:
    *                                       distinct left-contexts of w2
    *                                       over distinct bigram types)
    *   P(w2|w1) = (cb − D + D · N1+(w1·) · Pcont(w2)) / c(w1·)
    *
    * (cb ≥ 1 on every observed bigram and D < 1, so the max(cb−D, 0)
    * clamp of the general form is vacuous here.) Output one row per
    * observed bigram type: (w1, w2, cb, c1, nf, nb, p_kn), p_kn
    * rounded to 6 decimals — the float-determinism convention the
    * DuckDB oracle hash-compares under; every input to the formula is
    * an exact integer, so the doubles agree bit-for-bit before the
    * round on both engines.
    *
    * Plan shape: two vocabulary-sized aggregates (contexts, rights)
    * and one 3-integer scalar off the counts table, joined back on
    * their own aggregation keys; the corpus text is never touched. */
  def knModel(counts: DataFrame): DataFrame =
    knModelFromJoined(knJoinedRelation(counts))

  /** [[knModel]] over an already-built [[knJoinedRelation]] — the
    * compute-once seam: the joined per-bigram-type relation is
    * threshold- and consumer-independent, so query layers stage IT
    * once and every KN gate applies only its own projection. */
  def knModelFromJoined(joined: DataFrame): DataFrame =
    joined
      .select(col("w1"), col("w2"), col("cb"), col("c1"), col("nf"), col("nb"),
        round(knLogTermInput, 6).as("p_kn"))

  /** The per-bigram-type joined model relation — [[knJoined]]'s
    * self-join form, exposed for staging: one row per observed bigram
    * type carrying every exact-integer input of the KN formula
    * (cb, c1, nf, nb, bt, n1, n2). At 100 TB this IS the stored LM
    * model table; deriving it is three aggregates + three joins of
    * the counts table that the model/score/prune consumers previously
    * each re-ran. */
  def knJoinedRelation(counts: DataFrame): DataFrame =
    knJoined(counts, counts)

  /** The derived-relation join shared by [[knModel]] and
    * [[knScoreFromCounts]]: `stream` (any relation carrying w1/w2)
    * joined with the counts table, the w1-keyed context aggregate, the
    * w2-keyed continuation aggregate, and the broadcast 3-integer
    * scalar. `stream eq counts` (the model form) skips the redundant
    * self-join. */
  private def knJoined(stream: DataFrame, counts: DataFrame): DataFrame = {
    val contexts = counts.groupBy(col("w1")).agg(
      sum(col("cb")).as("c1"), count(lit(1)).as("nf"))
    val rights = counts.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val scalars = counts.agg(
      count(lit(1)).as("bt"),
      sum(when(col("cb") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cb") === 2, 1L).otherwise(0L)).as("n2"))
    (if (stream eq counts) counts else stream.join(counts, Seq("w1", "w2")))
      .join(contexts, Seq("w1"))
      .join(rights, Seq("w2"))
      .crossJoin(broadcast(scalars)) // 1-row corpus scalar
  }

  /** The KN probability of a joined row ([[knJoined]] output), BEFORE
    * any round/log — kept as one shared expression so the model gate,
    * the scoring gate, and the DuckDB oracle all evaluate the same
    * operation order (the 6-decimal float-determinism contract).
    * A corpus whose every bigram type repeats ≥ 3 times has
    * n1 = n2 = 0 and the Ney estimate D = n1/(n1+2·n2) is 0/0 —
    * KenLM's --discount_fallback convention applies: D = 0.5. */
  private def knLogTermInput: Column = {
    val d = when(col("n1") + lit(2L) * col("n2") > 0L,
      col("n1").cast("double") /
        (col("n1") + lit(2L) * col("n2")).cast("double"))
      .otherwise(lit(0.5))
    (col("cb").cast("double") - d + d * col("nf").cast("double") *
      (col("nb").cast("double") / col("bt").cast("double"))) /
      col("c1").cast("double")
  }

  /** Score a tokenized corpus under the Kneser-Ney model derived from
    * `counts` — the CCNet quality signal with the real KenLM-family
    * estimator instead of [[bigramLmScore]]'s add-alpha fallback:
    * per document, the average bigram log-probability and the
    * perplexity exp(−avg). Self-scoring (counts built over a superset
    * of `docs`) keeps every bigram observed, so no OOV path fires;
    * scoring a FOREIGN corpus would left-join and floor unseen mass,
    * which callers opt into by pre-filtering.
    *
    * Plan: the occurrence stream joins the model relations on their
    * own aggregation keys (w1-keyed context join, w2-keyed rights
    * join, broadcast scalar), then one per-doc aggregate — the
    * [[bigramLmScore]] exchange layout with the KN formula in the
    * projection. The un-rounded log term evaluates in the same
    * operation order as the oracle's SQL, so sum/count/exp agree to
    * the 6-decimal round. */
  def knScoreFromCounts(docs: DataFrame, idCol: String, wordsCol: String,
      counts: DataFrame): DataFrame =
    knScoreFromJoined(docs, idCol, wordsCol, knJoinedRelation(counts))

  /** [[knScoreFromCounts]] over an already-built [[knJoinedRelation]]
    * (the staged-model seam). */
  def knScoreFromJoined(docs: DataFrame, idCol: String, wordsCol: String,
      joined: DataFrame): DataFrame =
    bigramPairs(docs, idCol, wordsCol)
      // fold the per-TYPE probability first (one derived-relation join
      // over the types-sized counts table), then hit the occurrence
      // stream with ONE bigram-keyed join — the model relation is
      // vocab²-observed-sized and broadcast-eligible, so the corpus
      // stream flows scan → join → per-doc aggregate with no shuffle
      // per derived relation. The per-occurrence log of a per-type
      // value is the same double either way, so oracle parity holds.
      .join(joined
        .select(col("w1"), col("w2"), log(knLogTermInput).as("lp")),
        Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"),
        round(exp(-(sum(col("lp")) / count(lit(1)))), 6).as("ppl"))

  /** CONTENT-DEFINED CHUNKING (the Rabin-fingerprint boundary
    * technique of LBFS — Muthitacharoen et al., SOSP 2001 — applied at
    * word granularity): a chunk boundary closes wherever the k-word
    * rolling window hash ≡ 0 (mod `divisor`), so boundaries move WITH
    * content — an insertion early in a document shifts every
    * fixed-grid chunk after it ([[chunkWithOverlap]]'s failure mode
    * for dedup), but CDC boundaries downstream of an edit stay put,
    * and chunk-level dedup keeps matching the unedited tail. Expected
    * chunk length ≈ `divisor` words (geometric); no min/max clamps —
    * clamping re-introduces the shift coupling this chunker exists to
    * remove, so degenerate short/long chunks are the stated trade.
    *
    * A window [p, p+k−1] (0-based words) with h % divisor = 0 closes
    * its chunk at word p+k (1-based end); the document tail always
    * closes at n. Docs shorter than k words form one whole-doc chunk.
    * Output: (idCol, chunk_ix, start_word, end_word, n_words), 1-based
    * inclusive word coordinates.
    *
    * Plan: one digest scan ([[graft.functions.NativeText.spanHashes]]
    * — md5-based, byte-replayable by the oracle), a boundary filter
    * (≈ n/divisor survivors), and a per-doc lag window over BOUNDARY
    * rows only — the window never spans the corpus token stream. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, divisor: Int = 32): DataFrame = {
    val withW = docs.select(col(idCol), split(col(textCol), " ").as("_w"))
    val boundaries = withW
      .select(col(idCol), posexplode(
        graft.functions.NativeText.spanHashes(col("_w"), k))
        .as(Seq("_pos", "_h")))
      .where(pmod(col("_h"), lit(divisor.toLong)) === 0L)
      .select(col(idCol), (col("_pos") + k).cast("long").as("e"))
    val ends = boundaries
      .unionByName(withW.select(col(idCol), size(col("_w")).cast("long").as("e")))
      .distinct()
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("e"))
    ends
      .select(col(idCol),
        row_number().over(byDoc).as("chunk_ix"),
        (coalesce(lag(col("e"), 1).over(byDoc), lit(0L)) + 1L)
          .as("start_word"),
        col("e").as("end_word"))
      .withColumn("n_words", col("end_word") - col("start_word") + 1L)
  }

  /** Shannon entropy + effective domain count of a mixture
    * distribution (key, n): H = ln N − Σ n·ln n / N, eff = e^H — the
    * one-row scorecard that says how concentrated a training mix IS
    * (e^H ≈ "number of equally-sized domains this behaves like"; the
    * number a temperature remix exists to raise). One aggregation
    * over the domain-sized relation; the corpus was already reduced
    * to counts upstream.
    *
    * Zero-count keys are FILTERED first (the 0·ln 0 = 0 limit —
    * relying on null-propagation accidents or the oracle's
    * 0 × −inf = NaN would diverge across engines on a maintained
    * count store after deletions); an EMPTY distribution returns
    * n_total = 0 with NULL entropy (no mixture has no entropy).
    * Output: (n_total, entropy, eff_domains) — n_total is the SUMMED
    * count mass Σ n (the number of items in the mixture), not the
    * number of distribution keys. */
  def mixtureEntropy(dist: DataFrame, nCol: String): DataFrame = {
    val nd = col(nCol).cast("double")
    val h = log(col("_N").cast("double")) -
      col("_s") / col("_N").cast("double")
    dist.filter(col(nCol) > 0)
      .agg(sum(col(nCol)).as("_N"), sum(nd * log(nd)).as("_s"))
      .select(coalesce(col("_N"), lit(0L)).cast("long").as("n_total"),
        (round(h, 6) + lit(0.0)).as("entropy"),
        (round(exp(h), 6) + lit(0.0)).as("eff_domains"))
  }

  /** Zipf rank–frequency fit over the corpus unigram distribution:
    * log–log OLS of ln(freq) on ln(rank) over the top `maxRanks`
    * types — the one-row corpus-health summary every pretraining
    * datasheet carries (natural text sits near slope −1; heavy
    * boilerplate/dedup failures flatten the head, templated spam
    * steepens it; r² says whether a power law describes the corpus at
    * all). Closed-form OLS from five sufficient sums:
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²),  x = ln rank, y = ln f
    *   r²    = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    * Ranks are dense by (freq desc, term asc) so the fit is
    * reproducible under frequency ties.
    *
    * Plan: one token-stream count aggregation (map-side combined,
    * vocab-sized output), a top-`maxRanks` cut + rank via ONE
    * vocab-sized sort bounded by the limit, then a 1-row sum rollup.
    * The corpus is touched exactly once; everything after the tf agg
    * is vocab-bounded, and the limit keeps the ranked relation
    * constant-sized even if the vocabulary explodes at 100 TB. */
  def zipfFit(docs: DataFrame, textCol: String,
      maxRanks: Int = 1000): DataFrame = {
    val tf = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(maxRanks)
    val ranked = tf.select(
      row_number().over(Window.orderBy(col("f").desc, col("term")))
        .cast("double").as("rk"),
      col("f").cast("double").as("fd"))
    val sums = ranked.select(log(col("rk")).as("x"), log(col("fd")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    // degenerate fits report NULL, not an engine-dependent 0/0: a
    // single type zeroes varX; a perfectly uniform head (every top
    // frequency equal — the boilerplate case this gate exists to
    // flag) zeroes varY (the Profile trend-slope guard)
    val slope = when(varX > 0, covN / varX)
    sums.select(col("n").cast("long").as("n_types"),
      (round(slope, 6) + lit(0.0)).as("slope"),
      (round((col("sy") - slope * col("sx")) / col("n"), 6) + lit(0.0))
        .as("intercept"),
      (round(when(varX > 0 && varY > 0, covN * covN / (varX * varY)), 6)
        + lit(0.0)).as("r2"))
  }

  /** Byte-pair-encoding TRAINER (Sennrich et al. 2016) over the
    * word-frequency table: nMerges rounds of count-all-adjacent-
    * symbol-pairs → merge the most frequent pair everywhere. Returns
    * the learned merge table (rank, left, right, merged, pair_count)
    * — the tokenizer artifact a pretraining pipeline ships. The
    * q_bpe_pairs gate counts ONE round's candidates; this runs the
    * actual training loop.
    *
    * Merge semantics (pinned by spec and replayed symbol-for-symbol
    * by the oracle): one round replaces occurrences of (l, r)
    * leftmost-first non-overlapping — expressed as a left fold over
    * the symbol array whose accumulator tail merges with the incoming
    * symbol (a run like a,a,a under (a,a) folds to [aa, a], exactly
    * the reference implementation's behavior). Pair counts include
    * overlapping occurrences (Sennrich's get_stats does).
    *
    * Scale shape: the corpus is scanned ONCE into the word-frequency
    * vocab; every training round is vocab-sized (pair explode ≤
    * symbols-per-word × vocab, one heap-bounded argmax, one fold
    * scan). Driver state is nMerges rows (the argmax collect — the
    * PQ-codebook boundedness discipline); per-round lineage is cut
    * (the mmrSelect discipline) so plans stay flat. Words must not
    * contain the u+0001 control character — the chr(1) seam the
    * ORACLE's string serialization uses; the operator itself never
    * serializes. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    bpeTrainFromVocab(bpeWordCounts(docs, textCol), nMerges)

  /** Train from a word-frequency table directly — the (w, wc) vocab
    * is the trainer's COMPLETE sufficient statistic, additively
    * mergeable ([[bpeMergeVocab]]), so an incremental or streaming
    * maintainer stores the vocab and retrains merges without ever
    * re-tokenizing the corpus ([[graft.streaming.StreamingBpe]]). */
  def bpeTrainFromVocab(wordCounts: DataFrame, nMerges: Int): DataFrame = {
    val session = wordCounts.sparkSession
    var vocab = Graph.cut(wordCounts.select(col("w"), col("wc"))
      .withColumn("syms", split(col("w"), "")))
    val merges = scala.collection.mutable.ArrayBuffer[
      (Int, String, String, String, Long)]()
    // the finally releases the CURRENT cut whether training completes
    // or a round's job throws — a failed round must not leak its
    // predecessor's blocks for the session's life
    try {
      var i = 1
      var exhausted = false
      // merging only ever SHRINKS the pair population: the first
      // empty argmax ends training (no later round can be non-empty)
      while (i <= nMerges && !exhausted) {
        val top = vocab
          .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wc")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect() // 1 row × nMerges — bounded driver state
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, c) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((i, l, r, l + r, c))
          val next = Graph.cut(vocab.withColumn("syms",
            mergeFold(col("syms"), lit(l), lit(r))))
          Graph.release(vocab)
          vocab = next
        }
        i += 1
      }
    } finally Graph.release(vocab)
    import session.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Final segmentation of every vocabulary word under an ordered
    * merge list — the ENCODE half of BPE (the merge table is tiny and
    * rides the plan as literals; applying it is nMerges folds inside
    * one vocab-sized projection, so encoding any corpus is one scan).
    * Output: (w, wc, tokens — space-joined symbols). */
  def bpeSegment(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seg = merges.foldLeft(col("syms")) { case (acc, (l, r)) =>
      mergeFold(acc, lit(l), lit(r))
    }
    bpeVocab(docs, textCol)
      .select(col("w"), col("wc"), array_join(seg, " ").as("tokens"))
  }

  /** Tokenizer fertility / compression per group under an ordered
    * merge list: tokens-per-word and characters-per-token — the
    * numbers that say whether a trained tokenizer actually fits a
    * domain (a domain whose fertility stays near characters-per-word
    * is one the merges never learned). Integer sufficient sums; the
    * only doubles are the two final divisions.
    *
    * Plan: one token scan → (group, word) counts (map-side combined),
    * then the merge folds run on that vocab-×-groups-sized relation —
    * per WORD TYPE, never per token — and one group-sized rollup. */
  def bpeFertility(docs: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seg = merges.foldLeft(split(col("w"), "")) { case (a, (l, r)) =>
      mergeFold(a, lit(l), lit(r))
    }
    docs.select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("c"))
      .select(col("grp"), col("c"),
        size(seg).cast("long").as("ntok"),
        length(col("w")).cast("long").as("nchr"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("ntok")).as("n_tokens"),
        sum(col("c") * col("nchr")).as("nch"))
      .select(col("grp"), col("n_words"), col("n_tokens"),
        (round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6) + lit(0.0)).as("fertility"),
        (round(col("nch").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("chars_per_token"))
  }

  /** The (w, wc) word-frequency table — one corpus scan, map-side
    * combined; everything BPE needs. */
  def bpeWordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** Additive merge of two word-frequency tables — exact mergeable
    * sufficient statistics (the knMergeCounts discipline). */
  def bpeMergeVocab(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w")).agg(sum(col("wc")).as("wc"))

  /** Word-frequency table with initial character segmentation — the
    * one corpus scan both BPE halves start from. */
  private def bpeVocab(docs: DataFrame, textCol: String): DataFrame =
    bpeWordCounts(docs, textCol)
      .withColumn("syms", split(col("w"), ""))

  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2), j =>
        struct(element_at(syms, j + 1).as("l"),
          element_at(syms, j + 2).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** One leftmost-first non-overlapping merge round as a left fold:
    * merge when the accumulator tail is `l` and the incoming symbol
    * is `r`; the freshly merged tail (l‖r ≠ l) cannot re-trigger, so
    * a run folds exactly like the reference's replace loop. */
  private def mergeFold(syms: Column, l: Column, r: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(x))))

  /** Token-mass coverage of the top-k vocabulary types at the given
    * checkpoints — the "top 10 types cover X% of all tokens"
    * datasheet line, q_zipf's head-heaviness complement (Zipf fits
    * the shape; coverage states the consequence a stopword list or
    * truncated vocab actually faces). Output per checkpoint:
    * (k, mass, share round-6).
    *
    * Plan: one token-stream count aggregation (map-side combined) →
    * a max(ks)-bounded TakeOrdered cut → a cumulative window over
    * that constant-sized head → checkpoint filter; the 1-row total
    * rides a broadcast. Nothing after the tf agg scales with the
    * corpus or the vocabulary. */
  def coverageCurve(docs: DataFrame, textCol: String,
      ks: Seq[Int]): DataFrame = {
    val tf = docs.select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    val total = tf.agg(sum(col("f")).as("_tot"))
    val head = tf.orderBy(col("f").desc, col("term")).limit(ks.max)
    val byRank = Window.orderBy(col("f").desc, col("term")) // head-sized
    head
      .select(row_number().over(byRank).as("k"), col("f"))
      .withColumn("mass", sum(col("f")).over(
        Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("k").isin(ks.map(Integer.valueOf): _*))
      .crossJoin(broadcast(total)) // 1-row corpus scalar
      .select(col("k"), col("mass"),
        (round(col("mass").cast("double") / col("_tot").cast("double"), 6)
          + lit(0.0)).as("share"))
      .orderBy(col("k"))
  }

  /** Heaps' law vocabulary-growth curve: cumulative (docs, tokens,
    * vocabulary) at id-space decile checkpoints, plus the log–log OLS
    * fit V = K·N^β over the checkpoints — q_zipf's companion curve
    * (Zipf describes the frequency head at one corpus size; Heaps
    * says how the vocabulary GROWS as the corpus does — the curve
    * that decides tokenizer vocab sizing and flags boilerplate
    * floods, which bend β toward 0, or id-spaced template churn,
    * which bends it toward 1).
    *
    * Checkpoints are id-SPACE deciles (cut c_b = ⌊(max_id+1)·b/10⌋),
    * not doc-count deciles: a doc's bucket is a pure function of its
    * own id and one broadcast scalar, so NO corpus-sized ordering or
    * window exists anywhere in the plan — the inherent "prefix"
    * semantics ride the id space the corpus is already keyed by.
    *
    * Plan: one token scan → per-term min(doc_id) (vocab-sized,
    * map-side combined) → 10-row bucket rollup; one doc-sized token
    * count → 10-row bucket rollup; cumulative sums + the OLS fit run
    * over the 10-row curve only. Exact integer curve; the only
    * doubles are the fit. */
  def heapsCurve(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val maxId = docs.agg((max(col(idCol)) + 1L).as("_span"))
    def bucketOf(id: Column): Column =
      (id * 10L / col("_span")).cast("int") + 1
    val perDoc = docs.select(col(idCol).as("_id"),
        size(split(col(textCol), " ")).cast("long").as("_nt"))
      .crossJoin(broadcast(maxId))
      .groupBy(bucketOf(col("_id")).as("b"))
      .agg(count(lit(1)).as("nd"), sum(col("_nt")).as("nt"))
    val firstSeen = docs
      .select(col(idCol).as("_id"), explode(split(col(textCol), " ")).as("_t"))
      .groupBy(col("_t")).agg(min(col("_id")).as("_fd"))
      .crossJoin(broadcast(maxId))
      .groupBy(bucketOf(col("_fd")).as("b"))
      .agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("b")) // 10-row curve, not the corpus
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perDoc.join(firstSeen, Seq("b"), "left")
      .select(col("b").as("decile"),
        sum(col("nd")).over(w).as("docs_cum"),
        sum(col("nt")).over(w).as("tokens_cum"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("vocab_cum"))
      .withColumn("x", log(col("tokens_cum").cast("double")))
      .withColumn("y", log(col("vocab_cum").cast("double")))
    // the OLS sums ride frame-wide window aggregates over the SAME
    // 10-row relation — a second reference to `curve` would re-expand
    // its two corpus scans into the plan
    val wAll = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val n = count(lit(1)).over(wAll).cast("double")
    val sx = sum(col("x")).over(wAll)
    val sy = sum(col("y")).over(wAll)
    val sxx = sum(col("x") * col("x")).over(wAll)
    val sxy = sum(col("x") * col("y")).over(wAll)
    val varX = n * sxx - sx * sx
    // a single-checkpoint curve has no fit — NULL beta/k, not 0/0
    val beta = when(varX > 0, (n * sxy - sx * sy) / varX)
    curve.select(col("decile"), col("docs_cum"), col("tokens_cum"),
        col("vocab_cum"),
        (round(beta, 6) + lit(0.0)).as("beta"),
        (round(exp((sy - beta * sx) / n), 6) + lit(0.0)).as("k"))
      .orderBy(col("decile"))
  }

  /** Score a FOREIGN corpus (text the model was not trained on) under
    * the bigram KN model derived from `counts` — the actual CCNet
    * deployment shape: a Wikipedia-trained LM scoring web text, where
    * unseen events are the signal, not an error. The full interpolated
    * backoff chain fires per bigram:
    *
    *  - bigram seen:      the [[knScoreFromCounts]] interpolated term
    *  - context seen only: λ(w1)·Pcont(w2), λ(w1) = D·N1+(w1·)/c(w1·)
    *    (exactly the interpolation mass the seen-bigram term reserves)
    *  - context unseen:    Pcont(w2)
    *  - w2 never seen as a continuation: Pcont floors at 0.5/B —
    *    half a continuation type, the documented <unk> convention
    *    (KenLM assigns <unk> an explicit probability; any fixed
    *    deterministic floor serves, and this one is SQL-replayable).
    *
    * Output per doc: (idCol, n_bigrams, n_oov — bigrams unseen in
    * training, avg_logprob round 6, ppl round 6). Held-out perplexity
    * under a train-split model is the honest LM-quality measurement;
    * q_kn_heldout gates exactly that split. */
  def knScoreForeign(docs: DataFrame, idCol: String, wordsCol: String,
      counts: DataFrame): DataFrame = {
    val contexts = counts.groupBy(col("w1")).agg(
      sum(col("cb")).as("c1"), count(lit(1)).as("nf"))
    val rights = counts.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val scalars = counts.agg(
      count(lit(1)).as("bt"),
      sum(when(col("cb") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cb") === 2, 1L).otherwise(0L)).as("n2"))
    val d = when(col("n1") + lit(2L) * col("n2") > 0L,
      col("n1").cast("double") /
        (col("n1") + lit(2L) * col("n2")).cast("double"))
      .otherwise(lit(0.5))
    val pcont = when(col("nb").isNull, lit(0.5))
      .otherwise(col("nb").cast("double")) / col("bt").cast("double")
    val p = when(col("cb").isNotNull,
        (col("cb").cast("double") - d + d * col("nf").cast("double") * pcont) /
          col("c1").cast("double"))
      .when(col("c1").isNotNull,
        d * col("nf").cast("double") * pcont / col("c1").cast("double"))
      .otherwise(pcont)
    bigramPairs(docs, idCol, wordsCol)
      .join(counts, Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .join(rights, Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), log(p).as("lp"),
        when(col("cb").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"),
        round(exp(-(sum(col("lp")) / count(lit(1)))), 6).as("ppl"))
  }

  /** Trigram occurrence counts — the single maintained table of the
    * order-3 Kneser-Ney model ([[kn3Model]]): like [[knCounts]], EXACT
    * MERGEABLE sufficient statistics (per-trigram addition,
    * [[kn3MergeCounts]]), and — the point of the KN design — every
    * LOWER-ORDER quantity the interpolation needs (bigram-type
    * continuation counts, their context totals, both levels'
    * count-of-counts, the unigram continuation distribution) is a pure
    * relational aggregate OF THIS TABLE, so maintenance never touches
    * a second store. Docs shorter than three tokens contribute
    * nothing. */
  def kn3Counts(docs: DataFrame, idCol: String, wordsCol: String): DataFrame =
    trigramStream(docs, idCol, wordsCol)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))

  /** Merge trigram-count slices by per-key addition (disjoint doc
    * sets by contract — the [[knMergeCounts]] argument, order 3). */
  def kn3MergeCounts(slices: DataFrame*): DataFrame = {
    require(slices.nonEmpty, "kn3MergeCounts needs at least one slice")
    slices.reduceLeft(_ unionByName _)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c3")).as("c3"))
  }

  /** The per-occurrence trigram stream: (idCol, w1, w2, w3). */
  private def trigramStream(docs: DataFrame, idCol: String,
      wordsCol: String): DataFrame = docs
    .filter(size(col(wordsCol)) >= 3)
    .select(col(idCol), explode(transform(
      sequence(lit(1), size(col(wordsCol)) - 2),
      i => struct(element_at(col(wordsCol), i).as("w1"),
        element_at(col(wordsCol), i + 1).as("w2"),
        element_at(col(wordsCol), i + 2).as("w3")))).as("t"))
    .select(col(idCol), col("t.w1").as("w1"), col("t.w2").as("w2"),
      col("t.w3").as("w3"))

  /** Order-3 interpolated Kneser-Ney (Chen & Goodman 1999 §2.7 —
    * the recursion KenLM runs at order 5, shown here at order 3):
    *
    *   P3(w3|w1w2) = (c123 − D3 + D3·N1+(w1w2·)·P2(w3|w2)) / c(w1w2·)
    *   P2(w3|w2)   = (b23 − D2 + D2·N1+(w2··)·Pcont(w3)) / Σw3 b23
    *   Pcont(w3)   = N1+(·,·w3) / |bigram types|
    *
    * where b23 = N1+(·w2w3) is the bigram-TYPE count (distinct left
    * contexts — the Kneser-Ney insight: lower orders model CONTEXT
    * DIVERSITY, not frequency), and each level's discount is the Ney
    * estimate over ITS OWN count-of-counts with KenLM's 0.5 fallback.
    * Every input is an exact integer derived from the one [[kn3Counts]]
    * table; p_kn3 rounds to 6 decimals under the shared-operation-order
    * contract. Output: one row per observed trigram type —
    * (w1, w2, w3, c3, p_kn3). */
  def kn3Model(counts: DataFrame): DataFrame =
    kn3ModelFromJoined(kn3JoinedRelation(counts))

  /** [[kn3Model]] over an already-built [[kn3JoinedRelation]] — the
    * compute-once seam (see [[knModelFromJoined]], order 3). */
  def kn3ModelFromJoined(joined: DataFrame): DataFrame =
    joined
      .select(col("w1"), col("w2"), col("w3"), col("c3"),
        round(kn3TermInput, 6).as("p_kn3"))

  /** The per-trigram-type joined model relation — [[kn3Joined]]'s
    * self-join form, exposed for staging: one row per observed trigram
    * type carrying every exact-integer input of both interpolation
    * levels (c3, c12, nf12, b23, s2, nf2, nb3 and the 6 corpus
    * scalars). At 100 TB this IS the stored order-3 LM table; deriving
    * it is four aggregates + four joins of the counts table that the
    * lm/score/prune gates each re-ran — and within ONE gate the b23
    * bigram-type aggregate was re-expanded for each of its three
    * downstream consumers (ctx2, nb, scalars), so the staged relation
    * also collapses the intra-plan duplication. */
  def kn3JoinedRelation(counts: DataFrame): DataFrame =
    kn3Joined(counts, counts)

  /** Score a tokenized corpus under the order-3 model derived from
    * `counts` — per document, average trigram log-probability and
    * perplexity (the [[knScoreFromCounts]] contract, order 3;
    * self-scoring keeps every trigram observed). Docs with fewer than
    * three tokens drop. */
  def kn3ScoreFromCounts(docs: DataFrame, idCol: String, wordsCol: String,
      counts: DataFrame): DataFrame =
    kn3ScoreFromJoined(docs, idCol, wordsCol, kn3JoinedRelation(counts))

  /** [[kn3ScoreFromCounts]] over an already-built [[kn3JoinedRelation]]
    * (the staged-model seam). */
  def kn3ScoreFromJoined(docs: DataFrame, idCol: String, wordsCol: String,
      joined: DataFrame): DataFrame =
    trigramStream(docs, idCol, wordsCol)
      // per-TYPE fold first, ONE stream join after — the
      // [[knScoreFromCounts]] plan rationale, order 3
      .join(joined
        .select(col("w1"), col("w2"), col("w3"),
          log(kn3TermInput).as("lp")),
        Seq("w1", "w2", "w3"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"),
        round(exp(-(sum(col("lp")) / count(lit(1)))), 6).as("ppl"))

  /** The derived-relation join shared by [[kn3Model]] and
    * [[kn3ScoreFromCounts]]: `stream` (any relation carrying
    * w1/w2/w3) joined with the trigram counts, the (w1,w2) context
    * aggregate, the (w2,w3) bigram-type count, the w2 context
    * aggregate of THOSE types, the w3 continuation count, and the
    * broadcast 6-integer scalar. `stream eq counts` skips the
    * redundant self-join. */
  private def kn3Joined(stream: DataFrame, counts: DataFrame): DataFrame = {
    val ctx12 = counts.groupBy(col("w1"), col("w2")).agg(
      sum(col("c3")).as("c12"), count(lit(1)).as("nf12"))
    val b23 = counts.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("b23"))
    val ctx2 = b23.groupBy(col("w2")).agg(
      sum(col("b23")).as("s2"), count(lit(1)).as("nf2"))
    val nb = b23.groupBy(col("w3")).agg(count(lit(1)).as("nb3"))
    val scalars = counts.agg(
      sum(when(col("c3") === 1, 1L).otherwise(0L)).as("n1_3"),
      sum(when(col("c3") === 2, 1L).otherwise(0L)).as("n2_3"))
      .crossJoin(b23.agg(
        count(lit(1)).as("bt2"),
        sum(when(col("b23") === 1, 1L).otherwise(0L)).as("n1_2"),
        sum(when(col("b23") === 2, 1L).otherwise(0L)).as("n2_2")))
    (if (stream eq counts) counts
     else stream.join(counts, Seq("w1", "w2", "w3")))
      .join(ctx12, Seq("w1", "w2"))
      .join(b23, Seq("w2", "w3"))
      .join(ctx2, Seq("w2"))
      .join(nb, Seq("w3"))
      .crossJoin(broadcast(scalars)) // 1-row corpus scalar
  }

  private def kn3Discount(n1: Column, n2: Column): Column =
    when(n1 + lit(2L) * n2 > 0L,
      n1.cast("double") / (n1 + lit(2L) * n2).cast("double"))
      .otherwise(lit(0.5))

  /** The level-2 (backoff) probability of a joined row — the
    * interpolation's inner term, also the comparison base of
    * [[kn3PruneGains]]. */
  private def kn3P2Input: Column = {
    val d2 = kn3Discount(col("n1_2"), col("n2_2"))
    (col("b23").cast("double") - d2 + d2 * col("nf2").cast("double") *
      (col("nb3").cast("double") / col("bt2").cast("double"))) /
      col("s2").cast("double")
  }

  /** The order-3 KN probability of a joined row ([[kn3Joined]]
    * output), before round/log — one shared expression so both gates
    * and the DuckDB oracle evaluate the same operation order. */
  private def kn3TermInput: Column = {
    val d3 = kn3Discount(col("n1_3"), col("n2_3"))
    (col("c3").cast("double") - d3 + d3 * col("nf12").cast("double") *
      kn3P2Input) / col("c12").cast("double")
  }

  /** LIKELIHOOD-GAIN pruning scores for the order-3 model — the
    * count-weighted log-ratio of each trigram's full probability over
    * its backoff (the KL term Stolcke pruning (DARPA BNTUW 1998)
    * thresholds; the count weighting stands in for the context
    * probability, the standard corpus-side simplification):
    *
    *   gain(w1w2w3) = c123 · (ln P3(w3|w1w2) − ln P2(w3|w2))
    *
    * A trigram whose full-order probability barely beats its backoff
    * buys almost no training-corpus likelihood for its storage; at
    * 100 TB the (gain ≥ τ) filter IS the model-shipping step — the
    * kept table is what a perplexity-filter deployment broadcasts.
    * Negative gains are real (the interpolation can UNDERSHOOT the
    * backoff for rare trigrams in diverse contexts), which is exactly
    * why pruning thresholds on this quantity. Output: one row per
    * trigram type — (w1, w2, w3, c3, gain round 6). */
  def kn3PruneGains(counts: DataFrame): DataFrame =
    kn3PruneGainsFromJoined(kn3JoinedRelation(counts))

  /** [[kn3PruneGains]] over an already-built [[kn3JoinedRelation]]
    * (the staged-model seam). */
  def kn3PruneGainsFromJoined(joined: DataFrame): DataFrame =
    joined
      .select(col("w1"), col("w2"), col("w3"), col("c3"),
        round(col("c3").cast("double") *
          (log(kn3TermInput) - log(kn3P2Input)), 6).as("gain"))

  /** Per-group z-score outlier detection over an INTEGER measure in
    * EXACT integer arithmetic — the anomaly pass a curation pipeline
    * runs per domain (absurdly long/short documents, byte-count
    * anomalies) without the cross-engine wobble a floating
    * mean/stddev would carry: |x − μ| > z·σ is algebraized to
    *   (x·n − s)² > z² · (n·q − s²),      s = Σx, q = Σx², n = count
    * — every term a BIGINT, so the flag is order-independent and the
    * oracle replays it with the same integers. Plan: one per-group
    * aggregation (map-side combined) joined back to the scan; no
    * window, no second shuffle of the data (the group-stats relation
    * is groups-sized).
    *
    * Exactness bound: needs (x·n)² < 2^63, i.e. per-group rows up to
    * ~3·10^9/max(x) at BIGINT — beyond that swap the comparison
    * operands to DECIMAL(38,0) in the same plan shape (the flag, not
    * the estimate, is the contract; there is no precision to lose
    * until 128 bits). */
  def integerOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Int): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("_n"),
      sum(col(valueCol)).as("_s"),
      sum(col(valueCol) * col(valueCol)).as("_q"))
    val dev = col(valueCol) * col("_n") - col("_s")
    df.join(stats, groupCol)
      .where(dev * dev > lit(z.toLong * z) *
        (col("_n") * col("_q") - col("_s") * col("_s")))
      .drop("_n", "_s", "_q")
  }

  /** Weighted sampling without replacement (Efraimidis & Spiliotis
    * 2006, the exponential-jumps/A-ES family): per group, keep the k
    * rows with the SMALLEST exponential draw e_i = −ln(u_i)/w_i,
    * where u_i ∈ (0, 1] is the row's deterministic content-hash coin
    * ((hash60(id)+1)/2^60) and w_i its weight — each row's selection
    * probability is proportional to its weight, exactly the
    * "sample by token count / quality score" draw a training-data
    * mixer needs, and unlike rand()-keyed sampling the kept set is a
    * pure function of the data (replayable, partition-independent,
    * incremental-friendly).
    *
    * Determinism: u is exact integer arithmetic; −ln(u)/w is two IEEE
    * steps both engines evaluate identically; ranking uses the draw
    * rounded to 9 decimals with ties broken by id (round-before-rank).
    * Plan: one [[graft.plans.TopKPerGroup]] heap pass — k rows of
    * state per group, single clustered exchange, no per-group sort.
    *
    * Weight contract: the A-ES draw −ln(u)/w assumes w > 0 (w = 0
    * divides to Infinity, w < 0 flips the draw's sign and guarantees
    * selection). Rows with NULL or non-positive weight are treated as
    * unsampleable and filtered out before the draw — zero-weight
    * rows having zero selection probability is exactly what
    * "probability proportional to weight" prescribes. */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val u = (TextDedup.hash60(col(idCol).cast("string")) + lit(1L))
      .cast("double") / lit(Sketches.HashSpace)
    val keyed = df.where(col(weightCol).cast("double") > 0.0)
      .withColumn("_draw",
        round(-log(u) / col(weightCol).cast("double"), 9))
    graft.plans.TopKPerGroup.topK(keyed, Seq(groupCol),
        Seq("_draw", idCol), k, "_r")
      .drop("_draw", "_r")
  }

  /** Rate-balanced Bernoulli downsampling: equalize group sizes by
    * keeping each group's rows with probability target/|group|, where
    * target is the SMALLEST group's size — the class-balancing pass
    * before training on skewed domain mixes. The draw is the
    * deterministic content-hash coin (hash60(id) under a per-group
    * integer threshold floor(target/|group| · 2^60) — one double
    * multiply of exact integers, then floor: replayable), so the
    * sample is a function of the DATA, not of partitioning or rand()
    * seeds.
    *
    * vs [[quotaSample]] (exact top-target per group on the heap
    * operator): this is the SINGLE-SCAN form — group sizes are a
    * groups-sized aggregate joined back broadcast-style, then one
    * stateless filter; no per-group heap, no rank state, and the same
    * coin keeps working in a streaming micro-batch where a rank
    * operator would need global state. The price is binomial noise
    * around target (±√target), the standard Bernoulli-vs-reservoir
    * trade. */
  def balancedSample(df: DataFrame, groupCol: String,
      idCol: String): DataFrame = {
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    val target = sizes.agg(min(col("_gn")).as("_t"))
    val withThresh = df
      .join(sizes, groupCol)
      .crossJoin(broadcast(target)) // 1-row scalar
      .withColumn("_thresh",
        floor(col("_t").cast("double") / col("_gn").cast("double")
          * lit(Sketches.HashSpace)).cast("long"))
    withThresh
      .where(TextDedup.hash60(col(idCol).cast("string")) < col("_thresh"))
      .drop("_gn", "_t", "_thresh")
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020): within each
    * language, rank documents by in-domain LM score and cut into
    * `buckets` equal tiles — head (best), middle, tail. The head/tail
    * split is the knob web-scale curation uses to trade volume for
    * quality per language, and the per-language partitioning is what
    * keeps low-resource languages from being drowned by the
    * high-resource score distribution.
    *
    * Scores come from [[bigramLmScore]] (already round-6, so the
    * ordering is reproducible); ties break on the id. Documents with
    * fewer than two tokens carry no bigram evidence and are excluded
    * (both engines derive the population from the same bigram
    * relation). Plan: the scoring aggregation + ONE per-language
    * ntile window over (id, score) pairs — the window input is two
    * columns per document, not the text, so the sort spills cheaply
    * at corpus scale. Output: (id, lang, avg_logprob, bucket) with
    * bucket ∈ head | middle | tail (or tile_N beyond 3). */
  def perplexityBuckets(docs: DataFrame, idCol: String, langCol: String,
      wordsCol: String, buckets: Int = 3): DataFrame = {
    val scores = bigramLmScore(docs, idCol, wordsCol)
    val langs = docs.select(col(idCol), col(langCol))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_logprob").desc, col(idCol))
    val names = Seq("head", "middle", "tail")
    scores.join(langs, idCol)
      .withColumn("_tile", ntile(buckets).over(w))
      .select(col(idCol), col(langCol), col("avg_logprob"),
        (if (buckets == 3)
          when(col("_tile") === 1, names(0))
            .when(col("_tile") === 2, names(1))
            .otherwise(names(2))
        else concat(lit("tile_"), col("_tile"))).as("bucket"))
  }

  /** One induction step of byte-pair-encoding tokenizer training
    * (Sennrich et al. 2016): corpus-weighted frequencies of adjacent
    * symbol pairs, the argmax of which is the next merge. BPE
    * training is a loop of exactly this kernel; at corpus scale the
    * pair count — not the merge bookkeeping — is the distributed
    * cost, and it reduces to vocab-sized work:
    *
    * Plan: one corpus scan aggregates the word-frequency table
    * (vocab-sized, the only shuffle that sees corpus rows), then
    * pairs explode from DISTINCT words only — a word contributes its
    * character pairs once, weighted by its count, so the explode and
    * second aggregation are vocab×len-sized regardless of corpus
    * row count. Output: top `k` (p1, p2, pair_count) by
    * (count desc, p1, p2). */
  def bpeMergeCandidates(docs: DataFrame, textCol: String,
      k: Int): DataFrame = {
    val wordCounts = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = wordCounts.select(col("wc"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => struct(col("w").substr(i, lit(1)).as("p1"),
            col("w").substr(i + 1, lit(1)).as("p2")))).as("p"))
      .select(col("p.p1").as("p1"), col("p.p2").as("p2"), col("wc"))
    pairs.groupBy(col("p1"), col("p2"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("p1"), col("p2"))
      .limit(k)
  }

  /** DSIR importance weights (Xie et al., NeurIPS'23 "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-token bag is under
    * the TARGET distribution (rows where `isTarget`) than under the
    * raw corpus. weight(d) = Σ_b count_b(d) · (ln p̂_t(b) − ln p̂_r(b))
    * over `buckets` md5-hash buckets, with add-one smoothing
    * p̂(b) = (count(b) + 1) / (N + buckets). Resampling the corpus by
    * this weight shifts it toward the target domain without a trained
    * classifier.
    *
    * Cross-engine exactness: each ln term is quantized to nano-nat
    * BIGINTs BEFORE any summation (the q_entropy discipline), so
    * per-document weights are exact integer sums — order-free — and
    * the DuckDB oracle's explode-join formulation matches
    * bit-for-bit. The token hash is [[TextDedup.hash60]] (md5), the
    * same hash the oracle replays.
    *
    * Shape at 100 TB: the token stream collapses map-side to
    * ≤ `buckets` rows (groupBy on the bucket id), the totals are one
    * scalar row, and the llr table folds into a single `buckets`-long
    * array broadcast to every scoring task — per-document scoring is
    * then ONE codegen'd pass over the words array
    * ([[graft.functions.NativeText.dsirScore]]) with zero shuffle; no
    * (doc × bucket) intermediate ever forms. Selection downstream is
    * a global top-k heap (TakeOrderedAndProject), never a full sort.
    *
    * @return (idCol, weight_nano) — nano-nat importance weight. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame =
    dsirWeightsFromStats(docs, idCol, textCol,
      dsirStats(docs, textCol, isTarget, buckets), buckets)

  /** NULL text scores like empty text (one empty token on both
    * engines: split/string_split of '' is ['']) — the weight stays
    * total over the corpus instead of going NULL on the engine side
    * while the oracle's unnest silently drops the document. */
  private def dsirText(textCol: String): Column =
    coalesce(col(textCol), lit(""))

  /** DSIR sufficient statistics of one corpus slice: per hash bucket
    * the raw token count `_cr` and the target-slice token count `_ct`.
    * Counts are EXACT mergeable sufficient statistics — the stats of
    * a union are the per-bucket SUMS of the parts' stats — which is
    * what makes the incremental maintenance form exact: a stored
    * base table plus each delta batch's own stats, merged by
    * addition, yields bit-identical weights to a full recompute
    * (unlike sketch-backed maintenance there is no approximation to
    * bound). Token stream collapses map-side to ≤ `buckets` rows. */
  def dsirStats(docs: DataFrame, textCol: String,
      isTarget: Column, buckets: Int): DataFrame =
    docs
      .select(isTarget.as("_t"),
        explode(split(dsirText(textCol), " ")).as("_w"))
      .select(col("_t"), (TextDedup.hash60(col("_w")) % buckets).as("_b"))
      .groupBy(col("_b")).agg(
        count(lit(1)).as("_cr"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("_ct"))

  /** Merge DSIR stats slices by per-bucket addition (the exactness
    * argument in [[dsirStats]]). */
  def dsirMergeStats(slices: DataFrame*): DataFrame = {
    require(slices.nonEmpty, "dsirMergeStats needs at least one slice")
    slices.reduceLeft(_ unionByName _)
      .groupBy(col("_b")).agg(
        sum(col("_cr")).as("_cr"), sum(col("_ct")).as("_ct"))
  }

  /** Score `docs` against a (possibly merged) stats table: derive the
    * smoothed nano-nat llr per bucket, fold it into one broadcast
    * `buckets`-long array, and score each document in a single
    * codegen'd pass ([[graft.functions.NativeText.dsirScore]]) —
    * zero shuffle past the stats aggregate. */
  def dsirWeightsFromStats(docs: DataFrame, idCol: String,
      textCol: String, stats: DataFrame, buckets: Int): DataFrame = {
    // the stats table feeds two consumers (the llr projection and the
    // totals scalar); without a cut each re-evaluates the whole stats
    // plan — for the batch gates that is the corpus token stream
    // scanned TWICE (static plans show no exchange reuse). The cut is
    // ≤ `buckets` rows by construction; its pin lands in the session
    // registry, or in the enclosing pinScope for streaming callers.
    // A stats plan that is ALREADY a leaf (the streaming maintainer's
    // driver-local table, a stored parquet stats table) re-evaluates
    // for free — skip the cut's job + block churn there.
    // (optimizedPlan, not analyzed: ConvertToLocalRelation folds the
    // toDF-rename Project over a driver-local table into the leaf)
    val statsCut =
      if (stats.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode])
        stats
      else graft.Staging.registerPinned(docs.sparkSession, Graph.cut(stats))
    val totals = statsCut.agg(
      sum(col("_cr")).as("_nr"), sum(col("_ct")).as("_nt"))
    def lnNano(cnt: Column, n: Column): Column =
      round(log((cnt.cast("double") + lit(1.0)) /
        (n.cast("double") + lit(buckets.toDouble))) * lit(1e9), 0).cast("long")
    val llr = statsCut.crossJoin(broadcast(totals)).select(
      col("_b").cast("int").as("_b"),
      (lnNano(col("_ct"), col("_nt")) - lnNano(col("_cr"), col("_nr"))).as("_llr"))
    // Buckets no raw token hashes to can't be referenced by any
    // document, so the dense table fills them with 0.
    val llrRow = llr
      .agg(map_from_entries(collect_list(
        struct(col("_b"), col("_llr")))).as("_m"))
      .select(transform(sequence(lit(0), lit(buckets - 1)),
        i => coalesce(element_at(col("_m"), i), lit(0L))).as("_llr_arr"))
    docs.select(col(idCol), split(dsirText(textCol), " ").as("_w"))
      .crossJoin(broadcast(llrRow))
      .select(col(idCol),
        graft.functions.NativeText.dsirScore(
          col("_w"), col("_llr_arr"), buckets).as("weight_nano"))
  }
}
