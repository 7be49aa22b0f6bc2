package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps

import SharedSpark._
import SharedSql._

/** Training-corpus mixing: per-source statistics, sampling weights,
  * budgets, curricula and sequence packing. */
object CorpusQueries extends Module("corpus") {

  /** Curriculum phase assignment (see Mixing.curriculumPhases):
    * exact length-quartile phases over the corpus (easy-to-hard
    * ordering), the rfm-quintile rank pattern on documents. */
  private def qCurriculum(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"),
      size(filter(split(col("text"), " "), w => length(w) > 0))
        .cast("long").as("n_tokens"))
    corpus.Mixing.curriculumPhases(docs, "doc_id", "n_tokens", phases = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }
  // Curriculum phases: exact global rank by (score, id), phase =
  // (rank−1)·4 // n + 1 (the rfm-quintile arithmetic).
  query("q_curriculum", qCurriculum,
    """WITH dsc AS (
      |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
      |                                      x -> length(x) > 0)) AS BIGINT)
      |           AS score
      |  FROM documents),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dsc),
      |r AS (SELECT doc_id, score,
      |             row_number() OVER (ORDER BY score, doc_id) AS r FROM dsc)
      |SELECT doc_id, score,
      |       CAST(((r - 1) * 4) // n + 1 AS INTEGER) AS phase
      |FROM r, n ORDER BY doc_id""".stripMargin)

  /** Per-domain corpus report (counts, token volume, languages, exact
    * fixed-point mean quality) — one hash-aggregate over the scan. */
  private def qDomainStats(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.domainStats(t(s, d, "documents"),
        "source", "text", "lang", TextOps.Stopwords.toMap.apply("en"))
      .orderBy(col("source"))
  // Mean quality is an exact integer sum of per-doc fixed-point (1e6)
  // scores divided once at the end — partition-order-independent on the
  // Spark side, so it hash-matches any engine that mirrors the per-doc
  // expression (which q_text_quality already proves bit-equal).
  query("q_domain_stats", qDomainStats, {
    val hits = vocabHits(stop("en"))
    s"""WITH t AS (
       |  SELECT source, lang,
       |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |         $hits AS hits,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct_ratio
       |  FROM documents),
       |q AS (
       |  SELECT source, lang, n_tokens,
       |         CAST(round(((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
       |           + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
       |           + (1.0 - punct_ratio) * 0.2) * 1000000.0) AS BIGINT) AS q_fp6
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       count(DISTINCT lang) AS n_langs,
       |       CAST(sum(q_fp6) AS DOUBLE) / count(*) / 1000000.0 AS avg_quality
       |FROM q GROUP BY source ORDER BY source""".stripMargin
  })

  /** Per-domain Hellinger² divergence vs the corpus unigram distribution
    * (Mixing.domainDivergence): the domain-shift signal for mix design —
    * one (source, term) shuffle, re-aggregated totals, matched-terms-only
    * join with the unmatched mass folded in closed form. */
  private def qDomainDivergence(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.domainDivergence(t(s, d, "documents"), "source", "text")
      .orderBy(col("source"))
  // Hellinger² needs only sqrt/div/mul — all correctly rounded under
  // IEEE 754, so per-term doubles are bit-identical across engines;
  // they are fixed-pointed (1e12) and summed as integers, and the
  // unmatched corpus mass enters in closed form from the exact
  // matched-count sum. Expression shape mirrors Mixing.domainDivergence
  // operation-for-operation (same associativity).
  query("q_domain_divergence", qDomainDivergence, {
    val dExpr =
      """(sqrt(CAST(c.c_st AS DOUBLE) / CAST(ts.tot_s AS DOUBLE))
        |                   - sqrt(CAST(ct.c_t AS DOUBLE) / CAST(tc.tot_c AS DOUBLE)))""".stripMargin
    s"""WITH st AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
       |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_st FROM st GROUP BY 1, 2),
       |ct AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM c GROUP BY 1),
       |tc AS (SELECT CAST(sum(c_t) AS BIGINT) AS tot_c FROM ct),
       |ts AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS tot_s FROM c GROUP BY 1),
       |j AS (
       |  SELECT c.source, ts.tot_s, tc.tot_c, ct.c_t,
       |         CAST(round($dExpr
       |                  * $dExpr
       |                  * 1e12) AS BIGINT) AS h_fp12
       |  FROM c JOIN ct USING (term) JOIN ts USING (source), tc),
       |a AS (
       |  SELECT source, CAST(count(*) AS INTEGER) AS n_terms,
       |         max(tot_s) AS tot_tokens,
       |         CAST(sum(h_fp12) AS BIGINT) AS s_fp,
       |         CAST(sum(c_t) AS BIGINT) AS s_ct,
       |         max(tot_c) AS tot_c
       |  FROM j GROUP BY source)
       |SELECT source, n_terms, tot_tokens,
       |       0.5 * (CAST(s_fp AS DOUBLE) / 1e12)
       |     + 0.5 * (1.0 - CAST(s_ct AS DOUBLE) / CAST(tot_c AS DOUBLE)) AS hellinger_sq
       |FROM a ORDER BY source""".stripMargin
  })

  /** Integer largest-remainder budget allocation across domains
    * (Mixing.budgetAllocation): the mix PLANNING step — ⌊B·w⌋ base
    * shares on ⌊√count⌋ integer weights plus one-each to the largest
    * remainders; all-integer, so Σalloc = B exactly on both engines. */
  private def qBudgetAlloc(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.budgetAllocation(t(s, d, "documents"), "source", budget = 12345L)
      .orderBy(col("source"))
  // Largest-remainder allocation: all-integer after the IEEE-exact
  // ⌊√count⌋ weight, so both engines agree bit-for-bit and Σalloc = B.
  query("q_budget_alloc", qBudgetAlloc,
    """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |w AS (SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w_int FROM c),
      |z AS (SELECT CAST(sum(w_int) AS BIGINT) AS z FROM w),
      |a AS (SELECT source, n_docs, w_int,
      |             w_int * 12345 // z AS base,
      |             w_int * 12345 % z AS rem
      |      FROM w, z),
      |t AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM a),
      |r AS (SELECT a.*, row_number() OVER (ORDER BY rem DESC, source) AS rk, t.sb
      |      FROM a, t)
      |SELECT source, n_docs, w_int,
      |       CAST(base + CASE WHEN rk <= 12345 - sb THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r ORDER BY source""".stripMargin)

  /** Epoch-aware data-constrained mix plan (see Mixing
    * .epochMixPlan): greedy by per-epoch marginal value q_s·2^−(e−1)
    * (mean fp6 quality per source, halving per repeat — Muennighoff et
    * al. 2023), budget 60k tokens over ≤4 epochs of 20 sources; one
    * corpus scan, model-sized everything after. Budget is the operand. */
  private def qEpochMix(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.Stopwords.toMap.apply("en")
    corpus.Mixing.epochMixPlan(t(s, d, "documents"), "source", "text",
        en, budget = 60000L, maxEpochs = 4)
      .orderBy(col("source"), col("epoch"))
  }
  // Epoch-aware data-constrained mix plan: per-source (Σ tokens, mean
  // fp6 quality) → epochs 1..4 exploded, greedily ordered by the
  // integer key q_fp6·2^(4−e) (= q·2^−(e−1) compared without
  // division), budget-prefix allocation with a partial boundary unit.
  query("q_epoch_mix", qEpochMix, {
    val hits = vocabHits(stop("en"))
    s"""WITH t AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |         $hits AS hits,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct_ratio
       |  FROM documents),
       |q AS (
       |  SELECT source, nt,
       |         CAST(round(((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
       |           + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
       |           + (1.0 - punct_ratio) * 0.2) * 1000000.0) AS BIGINT) AS q6
       |  FROM t),
       |s AS (
       |  SELECT source, CAST(sum(nt) AS BIGINT) AS toks,
       |         CAST(sum(q6) // count(*) AS BIGINT) AS q_fp6
       |  FROM q GROUP BY 1),
       |u AS (
       |  SELECT source, toks, q_fp6, unnest(range(1, 5)) AS epoch FROM s),
       |o AS (
       |  SELECT source, toks, q_fp6, epoch,
       |         q_fp6 * (CAST(1 AS BIGINT) << (4 - epoch)) AS okey FROM u),
       |c AS (
       |  SELECT source, toks, q_fp6, epoch,
       |         COALESCE(sum(toks) OVER (ORDER BY okey DESC, source, epoch
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM o)
       |SELECT source, CAST(epoch AS INTEGER) AS epoch,
       |       CAST(q_fp6 // (CAST(1 AS BIGINT) << (epoch - 1)) AS BIGINT) AS value_fp6,
       |       CAST(greatest(0, least(toks, 60000 - cb)) AS BIGINT) AS alloc_tokens
       |FROM c
       |WHERE greatest(0, least(toks, 60000 - cb)) > 0
       |ORDER BY source, epoch""".stripMargin
  })

  /** Sqrt-temperature domain re-weighting (the LLM data-mixing sampler):
    * deterministic md5-percentile keep decision against a broadcast
    * per-domain weight table — the corpus never shuffles. */
  private def qTemperatureSample(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.temperatureSample(t(s, d, "documents"),
        "source", "doc_id", baseFrac = 0.5)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  // Temperature weights use sqrt (IEEE-correctly-rounded in every
  // engine) rather than pow(x, alpha); the md5 percentile is the same
  // portable hash as q_train_test_split. Keep probability = baseFrac ·
  // w/share capped at 1 — the mix-flattening form.
  query("q_temperature_sample", qTemperatureSample,
    """WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      |p AS (SELECT source, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS share,
      |             sqrt(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS p FROM c, tot),
      |z AS (SELECT sum(p) AS z FROM p),
      |w AS (SELECT source, share, p.p / z.z AS w FROM p, z)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN w ON d.source = w.source
      |WHERE CAST(CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS DOUBLE)
      |      < least(0.5 * w.w / w.share, 1.0) * 10000.0
      |ORDER BY doc_id""".stripMargin)

  /** Token-budget sequence packing per (domain, shard): contiguous bins
    * from a running window sum — the batch-assembly step before training
    * shard writes. */
  private def qPackSequences(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.packSequences(t(s, d, "documents"),
        "source", "doc_id", "text", budget = 2048, nShards = 4)
      .select(col("source"), col("shard"), col("doc_id"), col("n_tok"),
        col("cum_tok"), col("bin"))
      .orderBy(col("source"), col("shard"), col("doc_id"))
  query("q_pack_sequences", qPackSequences,
    """WITH x AS (
      |  SELECT source, doc_id,
      |         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS INTEGER) AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, shard, doc_id, n_tok,
      |         CAST(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM x)
      |SELECT source, shard, doc_id, n_tok, cum_tok,
      |       (cum_tok - 1) // 2048 AS bin
      |FROM c ORDER BY source, shard, doc_id""".stripMargin)

  /** Weighted sampling without replacement (exponential clocks), weight
    * = token count: the subsample where every TOKEN is equally likely to
    * survive regardless of document chunking. One scan, zero shuffle —
    * global selection is TakeOrderedAndProject. */
  private def qWeightedSample(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.weightedSample(t(s, d, "documents"), "doc_id",
        text.TextOps.tokenCount(col("text")), k = 50)
      .orderBy(col("clock_fp9"), col("doc_id"))
  // Exponential-clock weighted sample: u = (md5-60-bit + 1) / 2^60 is
  // a power-of-two scaling (identical IEEE rounding everywhere); the
  // clock −ln(u)/w is fixed-pointed at 1e9 with id tie-break so a
  // libm-ulp drift cannot flip the k-smallest selection.
  query("q_weighted_sample", qWeightedSample,
    """WITH x AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
      |         (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
      |           / 1152921504606846976.0 AS u
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) > 0)
      |SELECT doc_id, w,
      |       CAST(round(-ln(u) / w * 1e9) AS BIGINT) AS clock_fp9
      |FROM x
      |ORDER BY clock_fp9, doc_id
      |LIMIT 50""".stripMargin)

  /** Cross-domain quality calibration: per-source percent_rank of the
    * fixed-point Gopher quality score, computed through the bounded
    * score histogram (never a per-source window over the corpus) — one
    * keep-threshold then means the same thing in every domain. */
  private def qQualityCalibrated(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.Stopwords.toMap.apply("en")
    corpus.Mixing.calibrateBySource(t(s, d, "documents"), "source", "doc_id",
        round(TextOps.qualityScore(col("text"), en) * 1e6).cast("long"))
      .orderBy(col("doc_id"))
  }
  // Calibration oracle uses the NAIVE percent_rank window — the
  // engine computes the identical answer through the bounded score
  // histogram (Mixing.calibrateBySource); c_lt/(n-1) is a single
  // double division of exact integers, so the two forms are
  // bit-equal.
  query("q_quality_calibrated", qQualityCalibrated, {
    val hits = vocabHits(stop("en"))
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |         $hits AS hits,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct_ratio
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source,
       |         CAST(round(((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
       |           + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
       |           + (1.0 - punct_ratio) * 0.2) * 1000000.0) AS BIGINT) AS q_fp6
       |  FROM t)
       |SELECT doc_id, source, q_fp6,
       |       percent_rank() OVER (PARTITION BY source ORDER BY q_fp6) AS pctl
       |FROM q ORDER BY doc_id""".stripMargin
  })

  /** DSIR-style importance selection (see corpus.Mixing
    * .dsirWeights): hashed-bigram feature contrast of the src0 target
    * slice against the raw corpus, top-40 selected. 64 feature buckets
    * puts multiple bigram types in every bucket at sf0.01 (the hashing
    * regime the estimator actually runs in). */
  private def qDsirWeights(s: SparkSession, d: String): DataFrame =
    graft.corpus.Mixing.dsirWeights(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", targetPred = col("source") === "src0",
        nBuckets = 64, topK = 40)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  // DSIR importance selection: hashed-bigram (md5 mod 64) smoothed
  // probability contrast of the src0 target slice vs the raw corpus;
  // HUGEINT intermediates mirror the engine's DECIMAL(38,0) promotion,
  // every output aggregate cast to BIGINT. Floor-div on nonnegative
  // operands, so // ≡ Spark div.
  query("q_dsir_weights", qDsirWeights,
    """WITH tok AS (
      |  SELECT doc_id AS id, source = 'src0' AS is_target,
      |         string_split(text, ' ') AS tk
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |pos AS (SELECT id, is_target, tk, unnest(range(1, len(tk))) AS i FROM tok),
      |bg AS (
      |  SELECT id, is_target,
      |         CAST(concat('0x', substring(md5(concat(tk[i], ' ', tk[i + 1])), 1, 15)) AS BIGINT) % 64 AS feat
      |  FROM pos),
      |df AS (SELECT id, is_target, feat, count(*) AS n FROM bg GROUP BY 1, 2, 3),
      |dist AS (
      |  SELECT feat, sum(n) AS c_r,
      |         sum(CASE WHEN is_target THEN n ELSE 0 END) AS c_t
      |  FROM df GROUP BY feat),
      |tot AS (SELECT sum(c_r) AS tot_r, sum(c_t) AS tot_t FROM dist),
      |w AS (
      |  SELECT feat,
      |         CAST(CAST(c_t + 1 AS HUGEINT) * 1000000000 // (tot_t + 64) AS BIGINT)
      |         - CAST(CAST(c_r + 1 AS HUGEINT) * 1000000000 // (tot_r + 64) AS BIGINT) AS w_fp
      |  FROM dist, tot),
      |scored AS (
      |  SELECT id, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |         CAST(sum(n * w_fp) AS BIGINT) AS score_fp
      |  FROM df JOIN w USING (feat) GROUP BY id),
      |top AS (SELECT id FROM scored ORDER BY score_fp DESC, id LIMIT 40)
      |SELECT scored.id AS doc_id, n_bigrams, score_fp,
      |       top.id IS NOT NULL AS selected
      |FROM scored LEFT JOIN top ON scored.id = top.id
      |ORDER BY doc_id""".stripMargin)

  /** Packing-efficiency report (see corpus.Mixing
    * .packingEfficiency): per-(source, shard, bin) fill accounting over
    * the q_pack_sequences layout, last bin flagged. */
  private def qPackEfficiency(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.packingEfficiency(t(s, d, "documents"),
        "source", "doc_id", "text", budget = 2048, nShards = 4)
      .orderBy(col("source"), col("shard"), col("bin"))
  // Packing-efficiency report over the q_pack_sequences layout: per
  // (source, shard, bin) fill accounting, last bin flagged.
  query("q_pack_efficiency", qPackEfficiency,
    """WITH x AS (
      |  SELECT source, doc_id,
      |         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS INTEGER) AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, shard, doc_id, n_tok,
      |         CAST(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM x),
      |b AS (
      |  SELECT source, shard, (cum_tok - 1) // 2048 AS bin,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      |  FROM c GROUP BY 1, 2, 3)
      |SELECT source, shard, bin, n_docs, bin_tokens,
      |       CAST((1000 * bin_tokens) // 2048 AS BIGINT) AS fill_permille,
      |       bin = max(bin) OVER (PARTITION BY source, shard) AS is_last
      |FROM b ORDER BY source, shard, bin""".stripMargin)

  /** Source-concentration report (see corpus.Mixing
    * .sourceBalance): one-row max-share / effective-source-count /
    * Gini summary in integer permille, DECIMAL(38,0)-promoted so N²
    * never wraps. */
  private def qSourceBalance(s: SparkSession, d: String): DataFrame =
    corpus.Mixing.sourceBalance(t(s, d, "documents"), "source")
  // Source-concentration report: HUGEINT-promoted N² and rank sums
  // (the q_dsir_weights promotion), BIGINT-cast outputs.
  query("q_source_balance", qSourceBalance,
    """WITH per AS (
      |  SELECT source AS k, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |r AS (
      |  SELECT n, CAST(row_number() OVER (ORDER BY n, k) AS BIGINT) AS i
      |  FROM per),
      |s AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
      |         CAST(count(*) AS BIGINT) AS n_sources,
      |         CAST(max(n) AS BIGINT) AS max_n,
      |         sum(CAST(n AS HUGEINT) * n) AS sum_n_sq,
      |         sum(CAST(i AS HUGEINT) * n) AS sum_rank_n
      |  FROM r)
      |SELECT n_docs, n_sources, max_n,
      |       (1000 * max_n) // n_docs AS max_share_permille,
      |       CAST((1000 * CAST(n_docs AS HUGEINT) * n_docs) // sum_n_sq AS BIGINT)
      |         AS eff_sources_permille,
      |       CAST((1000 * (2 * sum_rank_n - (n_sources + 1) * CAST(n_docs AS HUGEINT)))
      |            // (CAST(n_sources AS HUGEINT) * n_docs) AS BIGINT) AS gini_permille
      |FROM s""".stripMargin)
}
