package graft.queries

import graft.Tables
import graft.operators.{Corpus, Graph, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data pipeline as ONE gated query —
  * the thing 170+ isolated green operators don't prove is that the
  * stages COMPOSE: each stage consumes the previous stage's surviving
  * corpus, not a fresh scan of the base table, and the oracle replays
  * the entire chain as a single CTE program built from the SAME SQL
  * fragments the per-stage gates use (no drift possible between the
  * isolated gates and the composed one).
  *
  * Reference analogue: the reference's own lifecycle is exactly such a
  * composition — db_check → grabAll enrichment → index build, chained
  * over the surviving record set (index_from_postgres.py:341-363);
  * this is the LLM-corpus instantiation of that shape.
  *
  * Chain (documents with doc_id % 50 == 0 play the held-out benchmark;
  * the rest are the raw corpus):
  *
  *  1. QUALITY FILTER — C4/Gopher keep decision (length, lexical
  *     diversity, mean token length, bigram repetition, language ID),
  *     one scan of native kernels, zero shuffle
  *     ([[LlmQueries.qualitySurvivors]]).
  *  2. NEAR-DUP DETECT — MinHash 16×4 banding + exact shingle-Jaccard
  *     verification at τ=0.5 over the SURVIVORS
  *     ([[TextDedup.minhashNearDups]]).
  *  3. CLUSTER + KEEP-BEST — connected components over the pair graph,
  *     then keep each cluster's longest member, ties to the larger id
  *     ([[Graph.connectedComponents]] + [[Graph.keepBest]]).
  *  4. DECONTAMINATE — drop survivors sharing ≥3 distinct 5-grams with
  *     any benchmark doc ([[Corpus.decontaminate]] + anti-join).
  *  5. TOKEN-BUDGET SAMPLE — per-source deterministic content-hash
  *     draw until 5k chars ([[Corpus.tokenBudgetSample]], seed r14).
  *  6. PACK — lay the sampled docs end-to-end in doc_id order and cut
  *     1024-token training sequences ([[Corpus.packChunks]]).
  *
  * Scale shape: stages 1–4 never shuffle the corpus by anything other
  * than their own keys (band buckets, component ids, shingle hashes —
  * all duplicate-/contamination-sized relations; the corpus itself
  * only streams through scans and planner-chosen anti-joins). Stage 5
  * is one window exchange on `source`. Stage 6's global window — the
  * one unpartitioned operator in the chain — runs over the
  * budget-BOUNDED sample (≤ budget·|sources| tokens by construction),
  * never the corpus; the corpus-scale form is
  * [[Corpus.packChunksSharded]] (gated separately as
  * q_pack_chunks_sharded). PipelineSpec pins this plan shape.
  */
object PipelineQueries {

  /** The family's SHARED PREFIX, staged once per (session, dir) via
    * [[graft.Staging]] — [[qPipeline]] and [[qPipelineIncr]] both
    * consume the quality-surviving corpus and its MinHash signature
    * table, and previously each recomputed them independently (the
    * r14 verdict's most expensive family, 20.4s controlled). In
    * production these ARE stored tables — the survivors a quality run
    * materialized, the signature index the dedup service maintains —
    * so staging models the real read path, exactly as
    * [[LlmQueries.shingleHashStream]] does for the sketch family. */
  private[graft] def stagedQdocs(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"pipeline:qdocs:$dir") {
      LlmQueries.qualitySurvivors(
        Tables.documents(s, dir).where(col("doc_id") % 50 =!= 0))
    }

  /** (doc_id, sig) over [[stagedQdocs]] — empty signatures dropped,
    * exactly what [[TextDedup.minhashNearDups]] computes internally
    * (PipelineSpec pins the equivalence). Prerequisite stage resolved
    * OUTSIDE the builder per the [[graft.Staging.stage]] contract. */
  private[graft] def stagedSigs(s: SparkSession, dir: String): DataFrame = {
    val qdocs = stagedQdocs(s, dir)
    graft.Staging.stage(s, s"pipeline:sigs:$dir") {
      qdocs.select(col("doc_id"),
          graft.functions.NativeText.minhashSig(
            split(col("text"), " "), 3).as("sig"))
        .where(size(col("sig")) > 0)
    }
  }

  def qPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.where(col("doc_id") % 50 === 0)
    // 1. quality filter (adds n_tokens, lang_pred; keeps input cols)
    val qdocs = stagedQdocs(s, dir)
    // 2-3. near-dup pairs → components → keep the longest member;
    // candidates read the STAGED signature table
    val pairs = TextDedup.minhashNearDupsFromSigs(qdocs,
      stagedSigs(s, dir), "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
    val labels = Graph.connectedComponents(pairs, "d1", "d2")
    val deduped = Graph.keepBest(qdocs, "doc_id", labels, "n_chars")
    // 4. benchmark decontamination (flagged set is contamination-sized)
    val flagged = Corpus.decontaminate(deduped, bench, "doc_id", "text")
    val clean = deduped.join(flagged.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // 5. per-source token budget; 6. pack the bounded sample
    val sampled = Corpus.tokenBudgetSample(clean, "source", "doc_id",
      "n_chars", budget = 5000L, seed = "r14")
    Corpus.packChunks(sampled, orderCol = "doc_id",
        tokensCol = "n_tokens", chunkTokens = 1024)
      .select(col("doc_id"), col("source"), col("lang_pred"),
        col("n_tokens"), col("n_chars"), col("first_chunk"),
        col("last_chunk"), col("chunk_offset"))
      .orderBy(col("doc_id"))
  }

  /** The MAINTENANCE form of the composed pipeline — the shape a
    * 100 TB corpus actually runs every day: the base corpus is already
    * processed (its quality survivors admitted, its MinHash signature
    * table stored), and a DELTA batch flows through
    *
    *  1. QUALITY FILTER (delta rows only),
    *  2. INCREMENTAL NEAR-DUP ([[TextDedup.incrementalNearDups]]):
    *     delta signatures probe the base's STORED signature table —
    *     base×base pairs are never re-formed, the base text is only
    *     touched for candidate verification;
    *  3. ADMISSION POLICY: a delta doc near-dupping an admitted base
    *     doc is dropped (base wins — the incremental discipline);
    *     delta-internal duplicate clusters keep their min id. The CC
    *     runs over ALL delta-delta pairs, so a cluster whose canonical
    *     was itself base-matched still kills its other members — both
    *     engines replay the same two kill sets in the same order;
    *  4. DECONTAMINATE the admitted increment against the benchmark.
    *
    * Output: the increment to append — (doc_id, source, lang_pred,
    * n_tokens, n_chars). Delta = doc_id % 5 == 0 within the corpus
    * (benchmark docs % 50 == 0 excluded as in [[qPipeline]]). The
    * oracle's ground truth is the FULL-corpus pair set restricted to
    * pairs touching the delta — so the gate proves the incremental
    * path admits exactly what a full re-run would have admitted for
    * this batch (the q_dedup_incr recall argument, composed). */
  def qPipelineIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.where(col("doc_id") % 50 === 0)
    val qdocs = stagedQdocs(s, dir)
    val qbase = qdocs.where(col("doc_id") % 5 =!= 0)
    val qdelta = qdocs.where(col("doc_id") % 5 === 0)
    // base AND delta signatures are filters of the ONE staged signature
    // table — the base's slice is the "stored" table production reads,
    // the delta's slice is what the maintenance batch would compute
    // once and both probe and append
    val sigs = stagedSigs(s, dir)
    val baseSigs = sigs.where(col("doc_id") % 5 =!= 0)
    val deltaSigs = sigs.where(col("doc_id") % 5 === 0)
    // the verified pair list is duplicate-sized and fans out to THREE
    // consumers (baseMatched, the delta-delta filter, and the CC's own
    // lineage cut) — without this cut each re-ran the whole
    // probe+verify subtree, tripling the query (measured r15). The cut
    // is registered so the session can release it; every invocation
    // otherwise pinned one pair list for the life of the session
    val pairs = graft.Staging.registerPinned(s, Graph.cut(
      TextDedup.incrementalNearDupsFromSigs(qbase, baseSigs,
        qdelta, deltaSigs, "doc_id", "text", shingleSize = 3,
        threshold = 0.5)))
    val mixed = pairs.where((col("d1") % 5 === 0) =!= (col("d2") % 5 === 0))
    val baseMatched = mixed
      .select(when(col("d1") % 5 === 0, col("d1")).otherwise(col("d2"))
        .as("_kill"))
      .distinct()
    val dd = pairs.where(col("d1") % 5 === 0 && col("d2") % 5 === 0)
    val labels = Graph.connectedComponents(dd, "d1", "d2")
    val afterBase = qdelta.join(baseMatched,
      qdelta("doc_id") === col("_kill"), "left_anti")
    val deduped = Graph.dropDuplicates(afterBase, "doc_id", labels)
    val flagged = Corpus.decontaminate(deduped, bench, "doc_id", "text")
    deduped.join(flagged.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang_pred"),
        col("n_tokens"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val qPipelineIncrSql: String =
    s"""WITH RECURSIVE
       |corpus0 AS (SELECT doc_id, text, source, n_chars FROM documents
       |  WHERE doc_id % 50 != 0),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus0),
       |m AS (SELECT doc_id, len(w) AS n_tokens,
       |  len(list_distinct(w)) AS n_distinct,
       |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len
       |  FROM t),
       |${LlmQueries.bigramDupCte},
       |sc AS (SELECT doc_id,
       |  ${LlmQueries.langScoreColsSql}
       |  FROM t),
       |lang AS (SELECT doc_id,
       |  ${LlmQueries.langArgmaxSql} AS lang_pred
       |  FROM sc),
       |keepq AS (SELECT m.doc_id, m.n_tokens, lang.lang_pred
       |  FROM m JOIN lang ON m.doc_id = lang.doc_id
       |    LEFT JOIN a2 ON m.doc_id = a2.doc_id
       |  WHERE NOT (m.n_tokens < 20)
       |    AND NOT (CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < 0.3)
       |    AND NOT (CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 12.0)
       |    AND NOT (n_tokens >= 3 AND
       |      CAST(COALESCE(dup2, 0) AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE) > 0.3)
       |    AND lang_pred = 'en'),
       |qdocs AS (SELECT c.doc_id, c.text, c.source, c.n_chars,
       |    k.n_tokens, k.lang_pred
       |  FROM corpus0 c JOIN keepq k ON c.doc_id = k.doc_id),
       |${LlmQueries.jaccardPairsCte("0.5", "qdocs")},
       |dpairs AS (SELECT d1, d2 FROM pairs
       |  WHERE d1 % 5 = 0 AND d2 % 5 = 0),
       |mixedkill AS (SELECT DISTINCT
       |    CASE WHEN d1 % 5 = 0 THEN d1 ELSE d2 END AS id
       |  FROM pairs WHERE (d1 % 5 = 0) <> (d2 % 5 = 0)),
       |${LlmQueries.ccClosureCteOver("dpairs")},
       |comps AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |cckill AS (SELECT id FROM comps WHERE comp <> id),
       |surv AS (SELECT * FROM qdocs WHERE doc_id % 5 = 0
       |  AND doc_id NOT IN (SELECT id FROM mixedkill)
       |  AND doc_id NOT IN (SELECT id FROM cckill)),
       |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM surv),
       |dg AS (SELECT DISTINCT doc_id,
       |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
       |         w[i+4] || ' ' || w[i+5] AS s5
       |       FROM (SELECT doc_id, unnest(range(len(w) - 4)) AS i, w FROM dw)),
       |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       WHERE doc_id % 50 = 0),
       |bg AS (SELECT DISTINCT doc_id AS bench_id,
       |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
       |         w[i+4] || ' ' || w[i+5] AS s5
       |       FROM (SELECT doc_id, unnest(range(len(w) - 4)) AS i, w FROM bw)),
       |flagged AS (SELECT dg.doc_id FROM dg JOIN bg USING (s5)
       |  GROUP BY dg.doc_id, bg.bench_id HAVING count(*) >= 3)
       |SELECT doc_id, source, lang_pred, n_tokens, n_chars FROM surv
       |WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)
       |ORDER BY doc_id""".stripMargin

  /** The whole chain replayed as one DuckDB CTE program. Every stage
    * reuses the per-stage oracle's own SQL fragment
    * ([[LlmQueries.bigramDupCte]], [[LlmQueries.langScoreColsSql]],
    * [[LlmQueries.jaccardPairsCte]] over the survivors,
    * [[LlmQueries.ccClosureCte]]) so the composed gate can only
    * diverge where composition itself is wrong. */
  val qPipelineSql: String =
    s"""WITH RECURSIVE
       |corpus0 AS (SELECT doc_id, text, source, n_chars FROM documents
       |  WHERE doc_id % 50 != 0),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus0),
       |m AS (SELECT doc_id, len(w) AS n_tokens,
       |  len(list_distinct(w)) AS n_distinct,
       |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len
       |  FROM t),
       |${LlmQueries.bigramDupCte},
       |sc AS (SELECT doc_id,
       |  ${LlmQueries.langScoreColsSql}
       |  FROM t),
       |lang AS (SELECT doc_id,
       |  ${LlmQueries.langArgmaxSql} AS lang_pred
       |  FROM sc),
       |keepq AS (SELECT m.doc_id, m.n_tokens, lang.lang_pred
       |  FROM m JOIN lang ON m.doc_id = lang.doc_id
       |    LEFT JOIN a2 ON m.doc_id = a2.doc_id
       |  WHERE NOT (m.n_tokens < 20)
       |    AND NOT (CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < 0.3)
       |    AND NOT (CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 12.0)
       |    AND NOT (n_tokens >= 3 AND
       |      CAST(COALESCE(dup2, 0) AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE) > 0.3)
       |    AND lang_pred = 'en'),
       |qdocs AS (SELECT c.doc_id, c.text, c.source, c.n_chars,
       |    k.n_tokens, k.lang_pred
       |  FROM corpus0 c JOIN keepq k ON c.doc_id = k.doc_id),
       |${LlmQueries.jaccardPairsCte("0.5", "qdocs")},
       |${LlmQueries.ccClosureCte},
       |comps AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |mm AS (SELECT c.comp, q.doc_id, q.n_chars
       |  FROM comps c JOIN qdocs q ON q.doc_id = c.id),
       |rk AS (SELECT doc_id, row_number() OVER (PARTITION BY comp
       |         ORDER BY n_chars DESC, doc_id DESC) AS rk FROM mm),
       |kill AS (SELECT doc_id FROM rk WHERE rk > 1),
       |dedup AS (SELECT * FROM qdocs
       |  WHERE doc_id NOT IN (SELECT doc_id FROM kill)),
       |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dedup),
       |dg AS (SELECT DISTINCT doc_id,
       |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
       |         w[i+4] || ' ' || w[i+5] AS s5
       |       FROM (SELECT doc_id, unnest(range(len(w) - 4)) AS i, w FROM dw)),
       |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       WHERE doc_id % 50 = 0),
       |bg AS (SELECT DISTINCT doc_id AS bench_id,
       |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
       |         w[i+4] || ' ' || w[i+5] AS s5
       |       FROM (SELECT doc_id, unnest(range(len(w) - 4)) AS i, w FROM bw)),
       |flagged AS (SELECT dg.doc_id FROM dg JOIN bg USING (s5)
       |  GROUP BY dg.doc_id, bg.bench_id HAVING count(*) >= 3),
       |clean AS (SELECT * FROM dedup
       |  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)),
       |kb AS (SELECT doc_id, source, n_chars, n_tokens, lang_pred,
       |        try_cast('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |          || ':budget:r14'), 1, 15) AS BIGINT) AS k
       |      FROM clean),
       |cb AS (SELECT doc_id, source, n_chars, n_tokens, lang_pred,
       |        sum(n_chars) OVER (PARTITION BY source ORDER BY k, doc_id
       |          ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM kb),
       |kept AS (SELECT doc_id, source, n_chars, n_tokens, lang_pred
       |  FROM cb WHERE cum - n_chars < 5000),
       |pk AS (SELECT doc_id, source, lang_pred, n_tokens, n_chars,
       |        SUM(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM kept)
       |SELECT doc_id, source, lang_pred, n_tokens, n_chars,
       |  CAST(FLOOR((cum - n_tokens) / 1024) AS BIGINT) AS first_chunk,
       |  CAST(FLOOR((cum - 1) / 1024) AS BIGINT) AS last_chunk,
       |  CAST((cum - n_tokens) % 1024 AS BIGINT) AS chunk_offset
       |FROM pk ORDER BY doc_id""".stripMargin
}
