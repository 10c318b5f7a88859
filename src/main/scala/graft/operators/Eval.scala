package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval / clustering EVALUATION and diversified-selection
  * operators — the measurement half of the embedding shelf. An index
  * you can't score is an index you can't tune: recall@k is the knob
  * every ANN deployment (nlist/nprobe, projection width, PQ bits)
  * is tuned against, silhouette is the standard internal quality
  * score for a clustering, and MMR is the selection pass that turns
  * a similarity shortlist into a *diverse* training set.
  *
  * Scale discipline shared by all three: query/selection relations
  * are probe-sized and broadcast; the corpus is touched by scans and
  * bucket joins only; cluster statistics are k-row sufficient
  * aggregates. Nothing here is all-pairs over the corpus.
  */
object Eval {

  /** Recall@k of an approximate retrieval against exact truth: the
    * fraction of the true top-k that the approximate top-k found,
    * per query. Both inputs are (qid, nid, rank) relations (the
    * shape every `Similarity` retrieval emits). Queries the
    * approximate side missed entirely still appear (hits = 0) via
    * the left join from the truth side's query set.
    *
    * The denominator is the PER-QUERY truth-set size (≤ k), not the
    * constant k: a query whose exact result list has fewer than k
    * members — a sparse corpus, a filtered candidate set — can still
    * score 1.0 when the approximation finds everything there is to
    * find; a fixed-k denominator would cap such queries below 1.0
    * forever and understate aggregate recall.
    *
    * Plan: both sides are (queries × k)-sized, so the join is a
    * broadcast hash join regardless of corpus size — evaluation
    * cost is independent of the index size being evaluated. */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    // filter BEFORE projecting rank away (and before renames): the
    // analyzer happens to resolve a filter on a just-dropped column
    // through the projection, but the idiom reads as a missing-column
    // bug — same cleanup as rankBiasedOverlap below
    val t = truth.filter(col("rank") <= k).select(col("qid"), col("nid"))
    val a = approx.filter(col("rank") <= k)
      .select(col("qid").as("aqid"), col("nid").as("anid"))
    t.join(broadcast(a),
        col("qid") === col("aqid") && col("nid") === col("anid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("anid")).as("hits"), count(lit(1)).as("n_truth"))
      .select(col("qid"), col("hits"),
        (round(col("hits") / col("n_truth"), 6) + lit(0.0)).as("recall"))
  }

  /** Simplified silhouette over an existing cluster assignment, via
    * per-cluster SUFFICIENT STATISTICS in exact integer arithmetic.
    *
    * The textbook silhouette needs all-pairs distances — dead at any
    * scale. With squared Euclidean distance the per-point mean
    * distance to a cluster collapses to three sufficient statistics
    * (Hruschka et al. 2004's simplified form, taken one step
    * further to the exact mean):
    *   Σ_{y∈C} ‖x−y‖² = n_C·‖x‖² − 2·x·S_C + Q_C,
    *   S_C = Σ_{y∈C} y,   Q_C = Σ_{y∈C} ‖y‖²
    * so a(i) and b(i) come from ONE corpus scan + a k-row broadcast.
    * Coordinates are quantized to ⌊x·10⁶⌋ BIGINTs first (the
    * q_centroid_classify discipline): every sum is order-free exact
    * integer arithmetic, so the score is reproducible across engines
    * and partitionings — no floating accumulation wobble.
    *
    * a(i) divides by (n−1) (x's own zero self-distance excluded);
    * singleton clusters get s = 0 by the standard convention.
    * s(i) = (b−a)/max(a,b), rounded to 6.
    *
    * Overflow headroom: terms are bounded by n_C·(dim·(10⁶·max|x|)²);
    * at |x|≤1, dim=64 that allows n_C up to ~10⁵ per cluster in
    * int64 — beyond that, promote the three statistics to
    * DECIMAL(38,0) in the same plan shape (the flag changes type,
    * not shape).
    *
    * Plan: quantize scan → posexplode grouped (cluster, pos) sum for
    * S (N×dim compact rows, one shuffle) → k-row stats broadcast →
    * one scan computing a, b per point. No all-pairs anywhere. */
  def silhouette(points: DataFrame, idCol: String, clusterCol: String,
      embCol: String): DataFrame = {
    val q = points.select(col(idCol).as("pid"),
      col(clusterCol).as("cl"),
      transform(col(embCol),
        x => floor(x.cast("double") * lit(1e6)).cast("long")).as("u"))
    val withSq = q.withColumn("usq",
      aggregate(col("u"), lit(0L), (acc, x) => acc + x * x))

    // per-cluster S (element-wise sum) via posexplode: compact
    // (cluster, pos) keys, one shuffle, map-side combined
    val sVec = withSq.select(col("cl"), posexplode(col("u")))
      .groupBy(col("cl"), col("pos"))
      .agg(sum(col("col")).as("sp"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sp")))).as("ps"))
      .select(col("cl"), transform(col("ps"), p => p("sp")).as("s"))
    val nq = withSq.groupBy(col("cl"))
      .agg(count(lit(1)).as("n"), sum(col("usq")).as("qsum"))
    val stats = nq.join(sVec, Seq("cl"))
      .select(col("cl").as("scl"), col("n"), col("qsum"), col("s"))

    // one scan over points × k broadcast clusters: exact integer
    // numerators, the only doubles are the final two divisions
    val dotUS = aggregate(
      zip_with(col("u"), col("s"), (a, b) => a * b), lit(0L), _ + _)
    val num = col("n") * col("usq") - lit(2L) * dotUS + col("qsum")
    val scored = withSq.crossJoin(broadcast(stats)) // k-row stats grid
      .select(col("pid"), col("cl"), col("scl"), col("n"),
        num.as("num"))
    val perPoint = scored.groupBy(col("pid"), col("cl"))
      .agg(
        max(when(col("cl") === col("scl"),
          when(col("n") > 1,
            col("num").cast("double") / (col("n") - lit(1L)).cast("double"))
            .otherwise(lit(null)))).as("a"),
        min(when(col("cl") =!= col("scl"),
          col("num").cast("double") / col("n").cast("double"))).as("b"))
    perPoint.select(col("pid"), col("cl"),
      (round(
        when(col("a").isNull || greatest(col("a"), col("b")) <= lit(0.0),
          lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))),
        6) + lit(0.0)).as("sil"))
  }

  /** Per-class precision / recall / F1 from a confusion-count
    * relation (label, pred, n) — the classifier scorecard over
    * [[Similarity.nearestCentroidConfusion]]'s exact integer counts.
    * Classes come from the LABEL domain (support > 0 by
    * construction); a class never predicted scores precision 0 by
    * the usual convention, and F1 guards the 0/0 case to 0. The
    * three integer marginals are class-count-sized aggregations of
    * the (already tiny) confusion relation, so the report costs
    * nothing at any corpus scale; the only doubles are the final
    * divisions, reproducible to the bit. */
  def classificationReport(conf: DataFrame): DataFrame = {
    val support = conf.groupBy(col("label")).agg(sum(col("n")).as("support"))
    val predTot = conf.groupBy(col("pred").as("label"))
      .agg(sum(col("n")).as("predicted"))
    val tp = conf.filter(col("label") === col("pred"))
      .groupBy(col("label")).agg(sum(col("n")).as("tp"))
    val p = col("tp").cast("double") / col("predicted").cast("double")
    val r = col("tp").cast("double") / col("support").cast("double")
    support
      .join(predTot, Seq("label"), "left")
      .join(tp, Seq("label"), "left")
      .select(col("label"), col("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"), col("support"), col("predicted"), col("tp"),
        (round(when(col("predicted") === 0, lit(0.0)).otherwise(p), 6)
          + lit(0.0)).as("precision"),
        (round(r, 6) + lit(0.0)).as("recall"),
        (round(when(col("predicted") === 0 || col("tp") === 0, lit(0.0))
          .otherwise(lit(2.0) * p * r / (p + r)), 6) + lit(0.0)).as("f1"))
  }

  /** Intra-list diversity (ILD): per-query mean pairwise cosine
    * DISTANCE 1 − cos(a, b) among a selection's picks — the
    * measurement that justifies a diversifier (MMR's ILD must beat
    * plain top-k's on the same queries, or the λ knob is mis-set).
    * Pair terms quantize to nano-unit BIGINTs before the sum (the
    * q_entropy discipline), so the score is order-free exact.
    * `picks` is any (qid, nid) selection; vectors come from the
    * corpus join. Cost: selections are (queries × k)-sized, so the
    * pair join is k²-per-query over a broadcast-scale relation —
    * independent of corpus size. */
  def intraListDiversity(picks: DataFrame, corpus: DataFrame): DataFrame = {
    val c = corpus.toDF("_pid", "_pe")
    val p = picks.select(col("qid"), col("nid"))
      .join(c, col("nid") === col("_pid"))
      .select(col("qid"), col("nid"), col("_pe").as("e"))
    val a = p.toDF("qid", "na", "ea")
    val b = p.toDF("qid", "nb", "eb")
    a.join(b, Seq("qid"))
      .where(col("na") < col("nb"))
      .select(col("qid"),
        round((lit(1.0) - Similarity.cosine(col("ea"), col("eb")))
          * lit(1e9)).cast("long").as("t9"))
      .groupBy(col("qid"))
      .agg(sum(col("t9")).as("s9"), count(lit(1)).as("np"))
      .select(col("qid"),
        (round(col("s9").cast("double") /
          (col("np").cast("double") * lit(1e9)), 6) + lit(0.0)).as("ild6"))
  }

  /** Multinomial Naive Bayes text classifier, trained and scored on
    * the labeled corpus, reported as a confusion matrix — the trained
    * counterpart of the stopword-profile language ID and the text
    * twin of [[Similarity.nearestCentroidConfusion]] (in-sample, the
    * standard separability smoke eval). Add-one smoothing:
    *   score(d, c) = ln P(c) + Σ_{w∈d} ln (n_{w,c}+1)/(n_c+|V|)
    * with every log term quantized to integer NANO-NATS before the
    * sum (the q_entropy discipline) — sums are order-free exact
    * BIGINTs, so the argmax and the whole confusion matrix are
    * reproducible across engines and partitionings.
    *
    * Plan: (class, word) counts (one token-stream aggregation,
    * map-side combined), a DENSE vocab × classes log-prob table
    * (vocab-sized — classes is a small broadcast grid), the scoring
    * join keyed on the word (tokens × |C| rows, the inherent NB
    * scoring cost), one (doc, class) sum and a per-doc argmax
    * window. Nothing corpus-quadratic. */
  def naiveBayesConfusion(docs: DataFrame, idCol: String,
      classCol: String, wordsCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("_id"),
      col(classCol).as("_true"), explode(col(wordsCol)).as("_w"))
    // the (class, word) count table is the model's whole token-level
    // sufficient statistic: cut it once (it is vocab×classes-sized) and
    // derive vocab / totals / log-probs from the CUT — before the cut,
    // each of the three consumers re-expanded the aggregation subtree,
    // so the corpus was exploded and aggregated once per consumer
    // (r22 plan audit: five corpus scans in one gate). The vocabulary
    // off wc is EXACTLY the token-stream vocabulary: every occurring
    // word lands in wc under its document's class.
    val wc = graft.Staging.registerPinned(docs.sparkSession,
      Graph.cut(tokens.groupBy(col("_true").as("_cl"), col("_w"))
        .agg(count(lit(1)).as("_cnt"))))
    val tot = wc.groupBy(col("_cl")).agg(sum(col("_cnt")).as("_tot"))
    val vocab = wc.select(col("_w")).distinct()
    val vs = vocab.agg(count(lit(1)).as("_v"))
    val cls = docs.groupBy(col(classCol).as("_cl"))
      .agg(count(lit(1)).as("_dc"))
    val dn = docs.agg(count(lit(1)).as("_dn"))

    val lp = vocab
      .crossJoin(broadcast(cls.select(col("_cl"))))
      .join(wc, Seq("_w", "_cl"), "left")
      .join(broadcast(tot), Seq("_cl"))
      .crossJoin(broadcast(vs)) // 1-row scalar
      .select(col("_w"), col("_cl"),
        round(log(
          (coalesce(col("_cnt"), lit(0L)) + lit(1L)).cast("double") /
            (col("_tot") + col("_v")).cast("double")) * lit(1e9))
          .cast("long").as("_t9"))
    val pri = cls.crossJoin(broadcast(dn))
      .select(col("_cl"),
        round(log(col("_dc").cast("double") / col("_dn").cast("double"))
          * lit(1e9)).cast("long").as("_p9"))

    val scored = tokens.join(lp, Seq("_w"))
      .groupBy(col("_id"), col("_true"), col("_cl"))
      .agg(sum(col("_t9")).as("_s9"))
      .join(broadcast(pri), Seq("_cl"))
      .select(col("_id"), col("_true"), col("_cl"),
        (col("_s9") + col("_p9")).as("_score"))
    val best = scored
      .withColumn("_rk", row_number().over(Window.partitionBy(col("_id"))
        .orderBy(col("_score").desc, col("_cl"))))
      .filter(col("_rk") === 1)
    best.groupBy(col("_true").as("label"), col("_cl").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Corpus-level BLEU-2 (Papineni et al. 2002) per group over a
    * (group, candidate, reference) pair relation — the standard
    * machine-translation surface metric, here the measurement the
    * bitext-mining shelf is tuned against (mined pairs that score
    * near-zero corpus BLEU against their aligned references are
    * noise, whatever their embedding margin said).
    *
    * Corpus (not sentence) form: clipped n-gram matches and candidate
    * n-gram totals are summed over ALL pairs in a group BEFORE the
    * precision division, and the brevity penalty compares the summed
    * lengths — short sentences cannot dominate via 0/0 smoothing.
    *   p_n = Σ_pairs Σ_g min(cnt_cand(g), cnt_ref(g)) / Σ_pairs |cand n-grams|
    *   BP  = min(1, exp(1 − ref_len/cand_len)),  BLEU = BP·√(p₁·p₂)
    * (the n=2 geometric mean is √ — no log/exp round trip for the
    * mean itself).
    *
    * Plan shape (r21): ONE scan — a per-row native kernel
    * ([[graft.functions.NativeText.bleuClip]]) computes each pair's
    * clipped unigram/bigram match counts in a single pass over the two
    * token arrays, then one group-keyed hash rollup (map-side combined)
    * sums the six integer sufficient statistics. This replaces the
    * previous two tagged-gram explode → (pair, gram) count → equi-join
    * → least() legs: the corpus × grams stream, both of its gram-keyed
    * exchanges and the join are gone (guide §2.3/§2.4 — aggregate
    * before the shuffle, then remove it outright). The even earlier
    * per-row distinct×filter LAMBDA formulation was ~6× slower because
    * higher-order functions run interpreted; the kernel is plain JVM
    * code behind a codegen-compatible expression, so the scan keeps
    * whole-stage fusion. `idCol` keys the pair (each row clips
    * independently; callers keep ids unique within a group —
    * spec-pinned contract). */
  def corpusBleu(pairs: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String): DataFrame = {
    val base = pairs.select(col(groupCol).as("grp"), col(idCol).as("pid"),
      split(col(candCol), " ").as("ca"), split(col(refCol), " ").as("ra"))
    val perPair = base.select(col("grp"),
      graft.functions.NativeText.bleuClip(col("ca"), col("ra")).as("k"),
      size(col("ca")).as("cs"), size(col("ra")).as("rs"))
    val agg = perPair.groupBy(col("grp"))
      .agg(sum(col("k.c1")).as("c1"), sum(col("k.c2")).as("c2"),
        sum(col("cs")).cast("long").as("t1"),
        sum(greatest(col("cs") - 1, lit(0))).cast("long").as("t2"),
        sum(col("cs")).cast("long").as("clen"),
        sum(col("rs")).cast("long").as("rlen"))
    val p1 = col("c1").cast("double") / col("t1").cast("double")
    // a group of single-token candidates has zero bigram slots — p2 is
    // 0 by convention, not 0/0 (engines disagree on NaN vs NULL there)
    val p2 = when(col("t2") > 0,
      col("c2").cast("double") / col("t2").cast("double"))
      .otherwise(lit(0.0))
    val bp = when(col("clen") >= col("rlen"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("rlen").cast("double") / col("clen").cast("double")))
    agg.select(col("grp"),
      (round(p1, 6) + lit(0.0)).as("p1"),
      (round(p2, 6) + lit(0.0)).as("p2"),
      (round(bp, 6) + lit(0.0)).as("bp"),
      (round(bp * sqrt(p1 * p2), 6) + lit(0.0)).as("bleu"))
  }

  /** Fleiss' kappa (Fleiss 1971) over a rating log (item, category) —
    * the chance-corrected inter-annotator agreement behind every
    * labeled-data quality review: raw percent agreement flatters a
    * skewed label distribution, kappa subtracts the agreement raters
    * would reach voting blindly from the marginals. The variable-n
    * generalization (each item i with n_i ≥ 2 ratings):
    *   P_i = Σ_j n_ij(n_ij−1) / (n_i(n_i−1)),   P̄ = mean_i P_i
    *   p_j = Σ_i n_ij / Σ_i n_i,                P̄_e = Σ_j p_j²
    *   κ   = (P̄ − P̄_e) / (1 − P̄_e)
    * Items with a single rating carry no pairwise information and are
    * excluded from P̄ (the standard convention) but still feed the
    * marginals.
    *
    * Plan shape: one (item, category) count aggregation (map-side
    * combined), one item-sized rollup, one category-sized rollup —
    * all integer sufficient statistics until the three final
    * divisions; output is ONE row. Nothing is rater-pair-quadratic
    * (Cohen's pairwise form is; Fleiss' is the scale-safe one). */
  def fleissKappa(ratings: DataFrame, itemCol: String,
      catCol: String): DataFrame = {
    // products are taken in DOUBLE (each factor cast first): counts at
    // corpus scale overflow n·(n−1) and N² in int64 long before they
    // lose double precision, and Spark's non-ANSI mode would WRAP, not
    // error. The oracle multiplies the same way, so both engines share
    // one rounding below 2^53 and one saturation story above it.
    def dsq(c: Column): Column = c.cast("double") * c.cast("double")
    val nij = ratings.groupBy(col(itemCol).as("it"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("n"))
    val perItem = nij.groupBy(col("it"))
      .agg(sum(col("n")).as("ni"),
        sum(col("n").cast("double") * (col("n") - 1).cast("double"))
          .as("agr"))
    val pbar = perItem.filter(col("ni") >= 2)
      .select((col("agr") /
        (col("ni").cast("double") * (col("ni") - lit(1L)).cast("double")))
        .as("pi"))
      .agg(count(lit(1)).as("n_items"), avg(col("pi")).as("pbar"))
    val pe = nij.groupBy(col("cat")).agg(sum(col("n")).as("nj"))
      .agg(sum(col("nj")).as("n_ratings"),
        sum(dsq(col("nj"))).as("sq"))
      .select(col("n_ratings"),
        (col("sq") / dsq(col("n_ratings"))).as("pe"))
    pbar.crossJoin(pe) // two 1-row scalars
      .select(col("n_items"), col("n_ratings"),
        (round(col("pbar"), 6) + lit(0.0)).as("p_bar"),
        (round(col("pe"), 6) + lit(0.0)).as("p_e"),
        // pe = 1 (a unanimous single-category log) makes kappa 0/0 —
        // undefined, and the engines disagree on how to render it
        // (Spark NULL vs IEEE NaN). Pin the degenerate case to NULL
        // on both engines, the zipfFit degenerate-fit convention.
        when(col("pe") < 1.0,
          round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 6)
            + lit(0.0)).as("kappa"))
  }

  /** Truncated rank-biased overlap (Webber et al. 2010) between two
    * retrievals at depth k: RBO@k = c·Σ_{d=1..k} (A_d/d)·p^{d−1},
    * A_d = |top-d(a) ∩ top-d(b)|, c = (1−p)/(1−p^k) so identical
    * rankings score exactly 1 — the eval-shelf measurement for
    * COMPARING two rankers (recall@k is set-blind, NDCG needs graded
    * truth; RBO weights agreement by prefix depth, which is what a
    * user of a top-k system experiences).
    *
    * The depth sum collapses per common item: an item at ranks
    * (ra, rb) joins every prefix d ≥ max(ra, rb), so its total
    * contribution is the CLOSED-FORM coefficient
    *   coef(m) = c·Σ_{d=m..k} p^{d−1}/d,  m = max(ra, rb) ≤ k
    * — k Scala-side literals, no depth explode anywhere. Both sides
    * are (queries × k)-sized, so the join broadcasts and evaluation
    * cost is independent of the corpora behind the rankings. Queries
    * with no common items still appear (rbo = 0) via the left join
    * from a's query set. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int,
      p: Double): DataFrame = {
    val c = (1 - p) / (1 - math.pow(p, k))
    val coef = (1 to k).map(m =>
      c * (m to k).map(d => math.pow(p, d - 1) / d).sum)
    val av = a.filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").as("ra"))
    val bv = b.filter(col("rank") <= k)
      .select(col("qid").as("bqid"), col("nid").as("bnid"),
        col("rank").as("rb"))
    val contrib = av.join(broadcast(bv),
        col("qid") === col("bqid") && col("nid") === col("bnid"))
      .select(col("qid"),
        element_at(array(coef.map(lit): _*),
          greatest(col("ra"), col("rb")).cast("int")).as("w"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("s"))
    av.select(col("qid")).distinct()
      .join(contrib, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (round(coalesce(col("s"), lit(0.0)), 6) + lit(0.0)).as("rbo"))
  }

  /** Reliability table for classifier calibration (Naeini et al.
    * 2015's ECE binning): bucket predictions by confidence into
    * `bins` equal-width bins and report per-bin size, mean
    * confidence, empirical accuracy, and the bin's weighted ECE
    * contribution (n_b/N)·|acc_b − conf_b| — the table a quality- or
    * domain-classifier gate reads before its scores are trusted as
    * sampling weights (an over-confident filter silently skews the
    * mixture). ECE = Σ contrib.
    *
    * Input: (conf ∈ [0,1], hit ∈ {true,false}). The top edge folds
    * into the last bin (conf = 1.0 is bin bins−1).
    *
    * Plan shape: one bin-keyed integer/double aggregation (map-side
    * combined) + a broadcast 1-row total — a single exchange of
    * `bins` rows regardless of corpus size. */
  def calibrationBins(scored: DataFrame, confCol: String, hitCol: String,
      bins: Int): DataFrame = {
    val b = least(floor(col(confCol) * lit(bins)).cast("int"),
      lit(bins - 1))
    val agg = scored.select(b.as("bin"), col(confCol).as("c"),
        col(hitCol).cast("int").as("h"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("csum"),
        sum(col("h")).as("hits"))
    val total = agg.agg(sum(col("n")).as("_nt"))
    val conf = col("csum") / col("n").cast("double")
    val acc = col("hits").cast("double") / col("n").cast("double")
    agg.crossJoin(broadcast(total)) // 1-row corpus scalar
      .select(col("bin"), col("n"),
        (round(conf, 6) + lit(0.0)).as("conf"),
        (round(acc, 6) + lit(0.0)).as("acc"),
        (round(col("n").cast("double") / col("_nt").cast("double") *
          abs(acc - conf), 6) + lit(0.0)).as("contrib"))
  }

  /** Alignment and uniformity (Wang & Isola 2020) — the two-number
    * health check of an embedding space:
    *   alignment  = E_{(a,b)∈pos} ‖za − zb‖²      (smaller = positives
    *                close; on unit vectors ‖za−zb‖² = 2 − 2·cos)
    *   uniformity = ln E_{(a,b)∈pairs} e^{−2‖za−zb‖²}  (more negative =
    *                mass spread over the sphere; collapsed spaces → 0)
    * A representation that scores well on retrieval today but has
    * poor uniformity is one nudge from collapse — this is the gate an
    * embedding column passes before ANN indexes, semdedup thresholds
    * or hard-negative mining are tuned on it.
    *
    * `positives` supplies (aid, bid) pairs (label neighbors, mined
    * bitext, augmentation twins — caller's notion of "same thing");
    * `sample` is the UNIFORMITY side's vector subset, whose all-pairs
    * term is m(m−1)/2 — the caller bounds m (a fixed id-prefix or
    * hash sample), so the quadratic piece is CONSTANT-sized at any
    * corpus scale while alignment joins stay pair-linear.
    *
    * Distances are taken ON THE UNIT SPHERE: ‖ẑa − ẑb‖² = 2 − 2·cos,
    * i.e. inputs are treated as direction-only (the convention every
    * cosine-retrieval pipeline already lives under). A caller whose
    * vector NORMS carry signal must state so and pre-scale — the
    * literature's raw-‖za−zb‖² numbers differ on non-unit vectors.
    * Per-vector norms are hoisted to the join sides (the
    * bruteForceTopK discipline — recomputing them inside the pair
    * projection would triple the kernel work); the fold kernels are
    * [[Similarity.dot]]/[[Similarity.norm]], oracle-parity proven.
    * Output is one row, both metrics round-6. */
  def alignmentUniformity(corpus: DataFrame, positives: DataFrame,
      sample: DataFrame): DataFrame = {
    def sided(df: DataFrame, id: String, e: String, n: String): DataFrame =
      df.toDF(id, e).withColumn(n, Similarity.norm(col(e)))
    val d2 = lit(2.0) - lit(2.0) *
      Similarity.dot(col("_ae"), col("_be")) / (col("_an") * col("_bn"))
    val align = positives
      .join(sided(corpus, "_aid", "_ae", "_an"), col("aid") === col("_aid"))
      .join(sided(corpus, "_bid", "_be", "_bn"), col("bid") === col("_bid"))
      .agg(count(lit(1)).as("n_pos"), avg(d2).as("alignment"))
    val sv = sample.toDF("sid", "se")
    val unif = sided(sv.select(col("sid"), col("se")), "_aid", "_ae", "_an")
      .join(sided(sv.select(col("sid"), col("se")), "_bid", "_be", "_bn"),
        col("_aid") < col("_bid"))
      .agg(count(lit(1)).as("n_unif"),
        log(avg(exp(lit(-2.0) * d2))).as("uniformity"))
    align.crossJoin(unif) // two 1-row scalars
      .select(col("n_pos"), col("n_unif"),
        (round(col("alignment"), 6) + lit(0.0)).as("alignment"),
        (round(col("uniformity"), 6) + lit(0.0)).as("uniformity"))
  }

  /** Exact ROC AUC over INTEGER-QUANTIZED scores, by the
    * Mann–Whitney identity with tie correction:
    *   AUC = [Σ_ℓ pos_ℓ·(neg below ℓ) + ½·pos_ℓ·neg_ℓ] / (P·N)
    * — the ranking quality of a quality/domain classifier, the number
    * that says whether its scores can ORDER documents at all (ECE
    * says whether to trust them as probabilities; both gates read the
    * same scorer). Quantization is the caller's contract (a score
    * used at corpus scale is bucketed anyway); within the quantized
    * levels the value is exact, ties handled by the ½ term.
    *
    * Plan: one level-keyed integer aggregation of the corpus
    * (map-side combined) → a cumulative window over the LEVELS-sized
    * relation (bounded by the quantization, never the corpus) → a
    * 1-row rollup. The pairwise products are taken in double (the
    * fleissKappa overflow discipline): P·N wraps int64 at ~3e9 rows
    * and Spark's non-ANSI mode would wrap silently. */
  def aucFromLevels(scored: DataFrame, levelCol: String,
      hitCol: String): DataFrame = {
    val perLevel = scored
      .select(col(levelCol).as("lv"), col(hitCol).cast("int").as("h"))
      .groupBy(col("lv"))
      .agg(sum(col("h")).cast("long").as("np"),
        sum(lit(1) - col("h")).cast("long").as("nn"))
    val byLv = Window.orderBy(col("lv")) // levels-sized, not the corpus
      .rowsBetween(Window.unboundedPreceding, -1L)
    val contrib = perLevel
      .withColumn("below", coalesce(sum(col("nn")).over(byLv), lit(0L)))
      .select(col("np"), col("nn"),
        (col("np").cast("double") * col("below").cast("double") +
          lit(0.5) * col("np").cast("double") * col("nn").cast("double"))
          .as("u"))
    contrib.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("u")).as("u"))
      .select(col("n_pos"), col("n_neg"),
        // a single-class input (P = 0 or N = 0) makes AUC 0/0 —
        // undefined, rendered NULL by Spark but NaN/inf by IEEE
        // engines. Pin it to NULL on both (the fleissKappa pe = 1
        // discipline).
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")), 6)
            + lit(0.0)).as("auc"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    * greedily pick k results per query maximizing
    *   λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)
    * — the diversified-selection pass between "top-k most similar"
    * and "k examples worth keeping" (dedup-aware retrieval, diverse
    * few-shot mining, seed selection for semdedup).
    *
    * Two-stage at scale: an m-candidate shortlist per query comes
    * from the cheap retrieval ([[Similarity.bruteForceTopK]] here;
    * any (qid, nid, rank) retrieval composes), then the greedy loop
    * runs k rounds over (queries × m)-sized relations ONLY — the
    * corpus is never touched after the shortlist join, so each
    * round is a broadcast-sized join + one per-query argmax window,
    * and plan depth is the constant k.
    *
    * Round 1 has an empty selected set: its MMR score is λ·cos(q,d)
    * (penalty 0 by convention). Ties break on nid ascending. All
    * arithmetic is sequential-fold doubles on both engines (the
    * q_ann_topk discipline), so selection is oracle-exact.
    * Output: (qid, nid, pick ∈ 1..k, mmr round-6). */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
      lambda: Double): DataFrame = {
    // shortlist ranks come from the heap operator (which emits ranks,
    // not scores); sim is recomputed on the (queries × m)-sized
    // shortlist only. The shortlist is lineage-CUT before the loop:
    // every greedy round references it twice, so without the cut the
    // final plan would re-expand the corpus-scanning retrieval ~2k
    // times (measured 40 s → ~1 s at sf0.1). The pinned blocks are
    // (queries × m) rows, registered with the session.
    val spark = corpus.sparkSession
    val c = corpus.toDF("cnid", "ce")
    val qv = queries.toDF("qqid", "qe")
    val short = graft.Staging.registerPinned(spark, Graph.cut(
      Similarity.bruteForceTopK(corpus, queries, m)
        .join(c, col("nid") === col("cnid"))
        .join(broadcast(qv), col("qid") === col("qqid"))
        .select(col("qid"), col("nid"),
          Similarity.cosine(col("qe"), col("ce")).as("sim"),
          col("ce").as("e"))))

    val lam = lit(lambda)
    val byScore = Window.partitionBy(col("qid"))
      .orderBy(col("mmr").desc, col("nid"))

    // each round references the selected set three times (anti-join,
    // penalty join, union) — cut per round or the final plan grows
    // ~3^k copies of round 1 (the labelPropagation round discipline,
    // ≤ queries×k pinned rows, superseded cuts released)
    var selected = Graph.cut(short
      .withColumn("mmr", lam * col("sim"))
      .withColumn("rn", row_number().over(byScore))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nid"), col("e"), lit(1).as("pick"),
        col("mmr")))

    for (t <- 2 to k) {
      val sel = selected.select(col("qid").as("sqid"), col("nid").as("snid"),
        col("e").as("se"))
      val cand = short.join(sel,
          col("qid") === col("sqid") && col("nid") === col("snid"),
          "left_anti")
      val pen = cand.join(sel, col("qid") === col("sqid"))
        .groupBy(col("qid"), col("nid"))
        .agg(max(Similarity.cosine(col("e"), col("se"))).as("pen"))
      val next = cand.join(pen, Seq("qid", "nid"))
        .withColumn("mmr", lam * col("sim") - (lit(1.0) - lam) * col("pen"))
        .withColumn("rn", row_number().over(byScore))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"), col("e"), lit(t).as("pick"),
          col("mmr"))
      val prev = selected
      selected = Graph.cut(selected.unionAll(next))
      Graph.release(prev)
    }
    // the FINAL cut's blocks back the returned frame — register them
    // with the session registry so Staging.releasePinned/session-end
    // frees them instead of leaking one pinned block set per
    // invocation (the kCoreNumbers discipline)
    graft.Staging.registerPinned(spark, selected)
      .select(col("qid"), col("nid"), col("pick"),
        (round(col("mmr"), 6) + lit(0.0)).as("mmr"))
  }
}
