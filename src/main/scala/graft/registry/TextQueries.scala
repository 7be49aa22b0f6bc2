package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MisraGries
import graft.ops.Relational
import graft.text.TextOps

import SharedSpark._
import SharedSql._

/** Text analysis over `documents`: normalization, tokenizers (BPE,
  * unigram-LM, WordPiece), language models, search, quality signals and
  * text-level sketches. */
object TextQueries extends Module("text") {

  /** The adjacent token pairs of every doc with ≥ 2 tokens (the bigram
    * stream of Search.bigramCondProbs): `bg(doc_id, w1, w2)`. */
  private val bigramsCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |p AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM t),
      |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM p)""".stripMargin

  /** The bigram LM over the pair counts `cab(w1, w2, c_ab)`: each
    * pair's conditional probability in integer permille,
    * `m(w1, w2, cm)` (mirrors Search.bigramCondProbs). */
  private val bigramModelCte =
    """ca AS (SELECT w1, sum(c_ab) AS c_a FROM cab GROUP BY w1),
      |m AS (SELECT w1, w2, (1000 * c_ab) // c_a AS cm
      |      FROM cab JOIN ca USING (w1))""".stripMargin

  /** BM25 scoring of the query terms ('hash', 'join', 'scan') (mirrors
    * Search.bm25TopDocs, k1 = 1.2, b = 0.75): per-term weights
    * `${prefix}sc(doc_id, w_fp)` in ×1e6 fixed point, summed per doc as
    * `${prefix}agg(doc_id, score_fp)`. */
  private def bm25Cte(prefix: String = ""): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM documents WHERE len(string_split(text, ' ')) > 0),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |${prefix}sc AS (
       |  SELECT tf.doc_id,
       |         CAST(round(
       |           ln((st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
       |             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
       |             * 1000000.0) AS BIGINT) AS w_fp
       |  FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, st),
       |${prefix}agg AS (SELECT doc_id, CAST(sum(w_fp) AS BIGINT) AS score_fp FROM ${prefix}sc GROUP BY 1)""".stripMargin

  /** The BPE merge chain, three rounds unrolled CTE-for-CTE (mirrors
    * Search.bpeTrainMerges): `s0` wraps every token in guards, and round
    * t counts the adjacent pairs of `s${t-1}` (`p$t`, `c$t`), takes the
    * most frequent (`m$t`) and applies it corpus-wide (`s$t`). The guards
    * make the merge a plain leftmost non-overlapping replace, the same
    * greedy semantics on both engines. `carry` keeps doc_id and text
    * through the rounds. */
  private def bpeMergesCte(carry: Boolean): String = {
    val s0 =
      if (carry) """s0 AS (SELECT doc_id, text,
                   |                   '(' || replace(text, ' ', ')(') || ')' AS s
                   |            FROM documents)""".stripMargin
      else "s0 AS (SELECT '(' || replace(text, ' ', ')(') || ')' AS s FROM documents)"
    def round(t: Int) = {
      val cols = if (carry) s"s${t - 1}.doc_id, s${t - 1}.text,\n               " else ""
      s"""p$t AS (
         |  SELECT toks, unnest(range(1, len(toks))) AS i
         |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS toks
         |        FROM s${t - 1})
         |  WHERE len(toks) >= 2),
         |c$t AS (SELECT toks[i] AS w1, toks[i + 1] AS w2,
         |               CAST(count(*) AS BIGINT) AS c FROM p$t GROUP BY 1, 2),
         |m$t AS (SELECT w1, w2, c FROM c$t ORDER BY c DESC, w1, w2 LIMIT 1),
         |s$t AS (SELECT ${cols}replace(s${t - 1}.s, '(' || m$t.w1 || ')(' || m$t.w2 || ')',
         |                       '(' || m$t.w1 || ' ' || m$t.w2 || ')') AS s
         |        FROM s${t - 1}, m$t)""".stripMargin
    }
    (s0 +: (1 to 3).map(round)).mkString(",\n")
  }

  // The export of documents as raw TEXT LINES ("doc_id\ttext", line
  // breaks sanitized to spaces) — the native landing format of a web/LLM
  // corpus, and the one source format the matrix was missing. Rebuilt
  // whenever the documents files change (SharedSpark.derivedDir).
  private[graft] def textLinesDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "txtlines", "documents") { dir =>
      spread(t(s, d, "documents"), "doc_id")
        .select(concat(col("doc_id").cast("string"), lit("\t"),
          regexp_replace(col("text"), "[\\t\\n\\r]", " ")).as("value"))
        .write.text(dir)
    }

  /** Raw text-lines source (`spark.read.text`): one line per document,
    * id and payload split at the first tab. Result transparency is the
    * gate — the oracle recomputes the same (chars, tokens) projection
    * from the base table through the identical sanitization, so any
    * line-splitting or encoding corruption in the round trip shows as a
    * hash mismatch. At scale this is the HTTP-dump landing zone read:
    * splittable line format, schema applied at read time. */
  private def qTextScan(s: SparkSession, d: String): DataFrame =
    s.read.text(textLinesDir(s, d))
      .select(split(col("value"), "\t", 2).as("p"))
      .select(element_at(col("p"), 1).cast("long").as("doc_id"),
        element_at(col("p"), 2).as("line"))
      .select(col("doc_id"), length(col("line")).as("n_chars"),
        TextOps.tokenCount(col("line")).as("n_tokens"))
      .orderBy(col("doc_id"))
  // the text-lines round trip must preserve every document: the oracle
  // recomputes the (chars, tokens) projection from the base table
  // through the identical line-break sanitization
  query("q_text_scan", qTextScan,
    """SELECT doc_id,
      |       CAST(len(regexp_replace(text, '[\t\n\r]', ' ', 'g')) AS INTEGER) AS n_chars,
      |       CAST(len(string_split(regexp_replace(text, '[\t\n\r]', ' ', 'g'), ' ')) AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Luhn card-number audit (see TextOps.luhnValid): the
    * checksum-validation stage of the PII scrub — 13-19-digit runs are
    * extracted and mod-10-validated, reported per source as candidate /
    * valid / flagged-doc counts. Like q_pii_redact, the corpus has no
    * natural card numbers, so one deterministic 16-digit run per doc is
    * synthesized closed-form from doc_id (≈10% Luhn-valid by
    * arithmetic accident — both branches exercised) and the REAL
    * extraction + validation runs over it. Scan-linear explode into a
    * (source, doc)-keyed aggregate then a source roll-up. */
  private def qLuhnAudit(s: SparkSession, d: String): DataFrame = {
    val withNum = t(s, d, "documents").select(col("source"), col("doc_id"),
      concat(col("text"), lit(" card "),
        (lit(4000000000000000L) + col("doc_id") * 9973L).cast("string"))
        .as("t"))
    val cand = withNum.select(col("source"), col("doc_id"),
      explode(regexp_extract_all(col("t"), lit("[0-9]{13,19}"), lit(0)))
        .as("num"))
    cand.withColumn("ok", TextOps.luhnValid(col("num")))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("nc"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("nv"))
      .groupBy(col("source"))
      .agg(sum(col("nc")).as("n_candidates"), sum(col("nv")).as("n_valid"),
        sum(when(col("nv") > 0, 1L).otherwise(0L)).as("n_docs_flagged"))
      .orderBy(col("source"))
  }
  // Luhn audit: synthesized 16-digit run per doc (the q_pii_redact
  // synthesis pattern), regexp extraction, mod-10 validation via the
  // list_transform mirror of the engine's aggregate HOF.
  query("q_luhn_audit", qLuhnAudit,
    """WITH tt AS (
      |  SELECT source, doc_id,
      |         text || ' card ' ||
      |         CAST(4000000000000000 + doc_id * 9973 AS VARCHAR) AS t
      |  FROM documents),
      |cand AS (
      |  SELECT source, doc_id,
      |         unnest(regexp_extract_all(t, '[0-9]{13,19}')) AS num
      |  FROM tt),
      |v AS (
      |  SELECT source, doc_id,
      |         list_sum(list_transform(range(1, length(num) + 1), i ->
      |           CASE WHEN i % 2 = 0
      |                THEN CASE WHEN 2 * CAST(substr(reverse(num), i, 1) AS INT) > 9
      |                          THEN 2 * CAST(substr(reverse(num), i, 1) AS INT) - 9
      |                          ELSE 2 * CAST(substr(reverse(num), i, 1) AS INT) END
      |                ELSE CAST(substr(reverse(num), i, 1) AS INT) END)) % 10 = 0
      |           AS ok
      |  FROM cand),
      |pd AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nc,
      |              CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS nv
      |       FROM v GROUP BY 1, 2)
      |SELECT source, CAST(sum(nc) AS BIGINT) AS n_candidates,
      |       CAST(sum(nv) AS BIGINT) AS n_valid,
      |       CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_docs_flagged
      |FROM pd GROUP BY 1 ORDER BY source""".stripMargin)

  /** LIX readability per source (see TextOps.lixReport): exact
    * summed counts + the integer ×100 index derived from the sums. */
  private def qReadability(s: SparkSession, d: String): DataFrame =
    TextOps.lixReport(t(s, d, "documents"), "text", "source")
      .orderBy(col("source"))
  // LIX readability per source: exact per-doc counts (words,
  // max(1, terminator-runs) sentences, >6-char longwords) summed,
  // index = 100W//S + 10000LW//W from the sums.
  query("q_readability", qReadability,
    """WITH d AS (
      |  SELECT source,
      |         CAST(len(list_filter(string_split(text, ' '),
      |                              x -> length(x) > 0)) AS BIGINT) AS w,
      |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |              AS BIGINT) AS s,
      |         CAST(len(list_filter(string_split(text, ' '),
      |                              x -> length(x) > 6)) AS BIGINT) AS lw
      |  FROM documents),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(w) AS BIGINT) AS n_words,
      |             CAST(sum(s) AS BIGINT) AS n_sentences,
      |             CAST(sum(lw) AS BIGINT) AS n_longwords
      |      FROM d GROUP BY 1)
      |SELECT source, n_docs, n_words, n_sentences, n_longwords,
      |       CAST((100 * n_words) // n_sentences
      |            + (10000 * n_longwords) // n_words AS BIGINT) AS lix_x100
      |FROM g ORDER BY source""".stripMargin)

  /** RAKE keyword extraction (see TextOps.rakeWordScores): the
    * top-20 words by degree/freq permille (score DESC, word ASC
    * tie-break → deterministic TakeOrderedAndProject). */
  private def qRakeKeywords(s: SparkSession, d: String): DataFrame =
    TextOps.rakeWordScores(t(s, d, "documents"), "text",
        TextOps.Stopwords.toMap.apply("en"))
      .orderBy(col("score_permille").desc, col("word"))
      .limit(20)
  // RAKE: non-letters then stopwords become the phrase delimiter
  // (regexp_replace needs the 'g' flag here — DuckDB replaces only
  // the first match by default, Spark replaces all), word
  // freq/degree over the phrase explode, top-20 by permille score.
  query("q_rake_keywords", qRakeKeywords,
    """WITH s AS (
      |  SELECT regexp_replace(
      |           regexp_replace(lower(text), '[^a-z ]+', '.', 'g'),
      |           '\b(the|a|of|and|to|in|is|it|that|for)\b', '.', 'g') AS t
      |  FROM documents),
      |p AS (SELECT unnest(string_split(t, '.')) AS phrase FROM s),
      |w AS (SELECT list_filter(string_split_regex(phrase, ' +'),
      |                         x -> length(x) > 0) AS ws FROM p),
      |x AS (SELECT unnest(ws) AS word, CAST(len(ws) AS BIGINT) AS plen
      |      FROM w WHERE len(ws) > 0),
      |g AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
      |             CAST(sum(plen) AS BIGINT) AS degree
      |      FROM x GROUP BY 1)
      |SELECT word, freq, degree,
      |       CAST((1000 * degree) // freq AS BIGINT) AS score_permille
      |FROM g ORDER BY score_permille DESC, word LIMIT 20""".stripMargin)

  private def qTokenCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))
  query("q_token_count", qTokenCount,
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin)

  private def qFingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  query("q_fingerprint", qFingerprint,
    s"SELECT doc_id, $fpExpr AS fp FROM documents ORDER BY doc_id")

  private def qTextQuality(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.Stopwords.toMap.apply("en")
    val txt = col("text")
    t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(txt).as("n_tokens"),
        TextOps.avgTokenLen(txt).as("avg_token_len"),
        TextOps.punctRatio(txt).as("punct_ratio"),
        (TextOps.vocabHits(txt, en).cast("double") / TextOps.tokenCount(txt)).as("stopword_ratio"),
        TextOps.qualityScore(txt, en).as("quality"))
      .orderBy(col("doc_id"))
  }
  query("q_text_quality", qTextQuality,
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |         $qualityFeatures
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |       CASE WHEN n_tokens > 0
       |            THEN CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / n_tokens
       |            ELSE 0.0 END AS avg_token_len,
       |       punct_ratio,
       |       CAST(hits AS DOUBLE) / n_tokens AS stopword_ratio,
       |       (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
       |         + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
       |         + (1.0 - punct_ratio) * 0.2 AS quality
       |FROM t ORDER BY doc_id""".stripMargin)

  /** Linear quality-classifier APPLY — the model-based filter tier
    * (fastText-style classifiers in RedPajama-v2/FineWeb-class
    * pipelines) as distinct from the rule-based Gopher tier
    * (`q_quality_filter`): an externally-trained weight vector arrives
    * as a ONE-ROW broadcast model frame (data, not plan literals — the
    * plan stays constant across model updates, same seam as the trained
    * PQ codebooks) and every document scores margin = w·f over exact
    * integer features (token count, stopword hits, mean token length in
    * milli-chars). Integer arithmetic end-to-end, so the decision
    * boundary is engine-exact; scan-linear, shuffle-free, one broadcast.
    * (The sigmoid is monotone, so thresholding the margin IS
    * thresholding the probability — no float transcendentals needed.) */
  private def qQualityMargin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = Seq((-30000L, 400L, 2000L, -1L))
      .toDF("w0", "w_tok", "w_stop", "w_len")
    val en = TextOps.Stopwords.toMap.apply("en")
    val txt = col("text")
    t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(txt).cast("long").as("n_tok"),
        TextOps.vocabHits(txt, en).cast("long").as("n_stop"),
        length(regexp_replace(txt, " ", "")).cast("long").as("n_cns"))
      .withColumn("mean_tok_len_milli", expr("n_cns * 1000 div n_tok"))
      .crossJoin(broadcast(model))
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        col("mean_tok_len_milli"),
        (col("w0") + col("w_tok") * col("n_tok") + col("w_stop") * col("n_stop")
          + col("w_len") * col("mean_tok_len_milli")).as("margin"))
      .withColumn("keep", col("margin") > 0)
      .orderBy(col("doc_id"))
  }
  // Linear classifier margin over exact integer features; weights
  // inlined closed-form (the engine side carries them as a broadcast
  // model row — same numbers, so the margins are integer-equal).
  query("q_quality_margin", qQualityMargin, {
    val hits = vocabHits(stop("en"))
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         CAST($hits AS BIGINT) AS n_stop,
       |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_cns
       |  FROM documents),
       |f AS (SELECT doc_id, n_tok, n_stop,
       |             n_cns * 1000 // n_tok AS mean_tok_len_milli FROM t)
       |SELECT doc_id, n_tok, n_stop, mean_tok_len_milli,
       |       CAST(-30000 + 400 * n_tok + 2000 * n_stop
       |            - mean_tok_len_milli AS BIGINT) AS margin,
       |       (-30000 + 400 * n_tok + 2000 * n_stop - mean_tok_len_milli) > 0 AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  })

  private def qLangId(s: SparkSession, d: String): DataFrame = {
    val txt = col("text")
    val best = greatest(TextOps.Stopwords.map { case (_, w) => TextOps.vocabHits(txt, w) }: _*)
    t(s, d, "documents")
      .select(col("doc_id"), TextOps.langId(txt).as("lang_pred"), best.as("best_hits"))
      .orderBy(col("doc_id"))
  }
  query("q_lang_id", qLangId, {
    val hitCols = TextOps.Stopwords
      .map { case (lang, words) => s"${vocabHits(words)} AS h_$lang" }
      .mkString(",\n         ")
    val langs = TextOps.Stopwords.map(_._1)
    val best = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = langs
      .map(l => s"WHEN best > 0 AND h_$l = best THEN '$l'")
      .mkString("\n            ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |         $hitCols
       |  FROM documents),
       |g AS (SELECT doc_id, h.*, $best AS best FROM h)
       |SELECT doc_id,
       |       CASE $cases
       |            ELSE 'und' END AS lang_pred,
       |       best AS best_hits
       |FROM g ORDER BY doc_id""".stripMargin
  })

  private def qRegexTokens(s: SparkSession, d: String): DataFrame = {
    val (w, n, o) = TextOps.regexTokenCounts(col("text"))
    t(s, d, "documents")
      .select(col("doc_id"), w.as("n_words"), n.as("n_nums"), o.as("n_other"))
      .orderBy(col("doc_id"))
  }
  query("q_regex_tokens", qRegexTokens,
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_words,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums,
      |       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]+')) AS INTEGER) AS n_other
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Gopher-style repetition filters (Rae et al., arXiv:2112.11446):
    * top-bigram fraction + duplicate-token fraction — the signals that
    * catch boilerplate/spam documents in corpus cleaning. */
  private def qRepetition(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.topNgramFrac(col("text"), 2).as("top_2gram_frac"),
        TextOps.dupTokenFrac(col("text")).as("dup_token_frac"))
      .orderBy(col("doc_id"))
  query("q_repetition", qRepetition,
    """SELECT doc_id,
      |       CASE WHEN len(g) > 0
      |            THEN CAST(list_max(list_transform(list_distinct(g),
      |                   x -> len(list_filter(g, y -> y = x)))) AS DOUBLE) / len(g)
      |       END AS top_2gram_frac,
      |       CASE WHEN len(toks) > 0
      |            THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      |       END AS dup_token_frac
      |FROM (SELECT doc_id, toks,
      |             CASE WHEN len(toks) >= 2
      |                  THEN list_transform(range(1, len(toks)),
      |                         i -> array_to_string(list_slice(toks, i, i + 1), ' '))
      |                  ELSE [] END AS g
      |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      |ORDER BY doc_id""".stripMargin)

  /** Deterministic stratified sampling: per-language quota in md5 order —
    * the reproducible per-source/per-language subsampling step of corpus
    * assembly. Stable under re-runs and any partitioning (hash order, not
    * randomSplit). The quota is taken through the BOUNDED
    * [[graft.functions.MinKByKey]] aggregate, not a window: a window
    * partition here is an entire language stratum (a dominant language ≈
    * the corpus) sorted by one task, while the aggregate's partial phase
    * trims every map task to 50 pairs per stratum before the shuffle. */
  private def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      .withColumn("h", md5(concat(lit("strat|"), col("doc_id").cast("string"))))
      .groupBy(col("lang"))
      .agg(graft.functions.MinKByKey(col("h"), col("doc_id"), 50).as("take"))
      .select(col("lang"), posexplode(col("take")).as(Seq("i", "p")))
      .select(col("p.id").as("doc_id"), col("lang"),
        (col("i") + 1).cast("int").as("sample_rank"))
      .orderBy(col("lang"), col("sample_rank"))
  query("q_stratified_sample", qStratifiedSample, {
    val hitCols = TextOps.Stopwords
      .map { case (lang, words) => s"${vocabHits(words)} AS h_$lang" }
      .mkString(",\n         ")
    val langs = TextOps.Stopwords.map(_._1)
    val best = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = langs
      .map(l => s"WHEN best > 0 AND h_$l = best THEN '$l'")
      .mkString("\n            ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |         $hitCols
       |  FROM documents),
       |g AS (SELECT doc_id, h.*, $best AS best FROM h),
       |l AS (
       |  SELECT doc_id,
       |         CASE $cases
       |              ELSE 'und' END AS lang
       |  FROM g),
       |r AS (
       |  SELECT doc_id, lang,
       |         CAST(row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY md5(concat('strat|', CAST(doc_id AS VARCHAR))), doc_id)
       |         AS INTEGER) AS sample_rank
       |  FROM l)
       |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 50
       |ORDER BY lang, sample_rank""".stripMargin
  })

  /** TF-IDF top-3 terms per document (quantized scores — see
    * text.Search scaladoc for the cross-engine numeric strategy). */
  private def qTfidfTopTerms(s: SparkSession, d: String): DataFrame =
    graft.text.Search.tfidfTopTerms(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("term_rank"))
  query("q_tfidf_topterms", qTfidfTopTerms,
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) > 0),
      |st AS (SELECT count(*) AS n_docs FROM dl),
      |sc AS (
      |  SELECT tf.doc_id, tf.term,
      |         CAST(round(tf.tf * ln(CAST(st.n_docs AS DOUBLE) / dfx.df) * 1000000.0)
      |              AS BIGINT) AS score_fp
      |  FROM tf JOIN dfx ON tf.term = dfx.term, st),
      |r AS (
      |  SELECT doc_id, term, score_fp,
      |         CAST(row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY score_fp DESC, term ASC) AS INTEGER) AS term_rank
      |  FROM sc)
      |SELECT doc_id, term, score_fp, term_rank FROM r WHERE term_rank <= 3
      |ORDER BY doc_id, term_rank""".stripMargin)

  /** BM25 keyword search: top-10 documents for a fixed conjunctive bag
    * of terms, postings pruned before any shuffle. */
  private def qBm25Search(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bm25TopDocs(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text",
      Seq("hash", "join", "scan"), 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_rank"))
  query("q_bm25_search", qBm25Search,
    s"""WITH ${bm25Cte()},
       |r AS (
       |  SELECT doc_id, score_fp,
       |         CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS INTEGER) AS doc_rank
       |  FROM agg)
       |SELECT doc_id, score_fp, doc_rank FROM r WHERE doc_rank <= 10
       |ORDER BY doc_rank""".stripMargin)

  /** Hybrid dense+sparse retrieval: cosine (around corpus vector 42) and
    * BM25 ranked lists fused by reciprocal rank — documents and
    * embeddings share the id space, so the fusion join is on the doc id.
    * Each retriever contributes its top-20; the fused top-10 ships. */
  private def qHybridSearch(s: SparkSession, d: String): DataFrame =
    graft.text.Search.hybridTopK(
        spread(t(s, d, "documents"), "doc_id"), t(s, d, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        queryId = 42L, terms = Seq("hash", "join", "scan"),
        poolK = 20, topK = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("hybrid_rank"))
  // hybrid retrieval: dense (cosine around vector 42) and sparse (BM25)
  // top-20 lists fused by reciprocal rank — floor(1e9/(60+rank)) exact
  // integers, absent list contributes 0, (score DESC, id ASC) total order
  query("q_hybrid_search", qHybridSearch,
    s"""WITH $fpVecCte,
       |dsc AS (
       |  SELECT c.vec_id AS id, ${cosineExpr("q", "c")} AS cosine
       |  FROM nv q, nv c
       |  WHERE q.vec_id = 42 AND c.vec_id <> 42 AND q.nn > 0 AND c.nn > 0),
       |dr AS (
       |  SELECT id, row_number() OVER (ORDER BY cosine DESC, id ASC) AS r
       |  FROM dsc QUALIFY r <= 20),
       |${bm25Cte("s")},
       |sr AS (
       |  SELECT doc_id AS id, row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS r
       |  FROM sagg QUALIFY r <= 20),
       |fused AS (
       |  SELECT coalesce(dr.id, sr.id) AS doc_id,
       |         coalesce(CAST(floor(1000000000.0 / (60 + dr.r)) AS BIGINT), 0)
       |           + coalesce(CAST(floor(1000000000.0 / (60 + sr.r)) AS BIGINT), 0) AS score_rrf
       |  FROM dr FULL OUTER JOIN sr ON dr.id = sr.id)
       |SELECT doc_id, score_rrf,
       |       CAST(row_number() OVER (ORDER BY score_rrf DESC, doc_id ASC) AS INTEGER) AS hybrid_rank
       |FROM fused QUALIFY hybrid_rank <= 10
       |ORDER BY hybrid_rank""".stripMargin)

  private def qWinnowFingerprint(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextOps.winnowFingerprint(col("text"), 4).as("winnow_fp"))
      .orderBy(col("doc_id"))
  query("q_winnow_fingerprint", qWinnowFingerprint,
    """SELECT doc_id,
      |       CASE WHEN len(toks) >= 4
      |            THEN list_min(list_transform(range(1, len(toks) - 2),
      |                                         i -> md5(array_to_string(list_slice(toks, i, i + 3), ' '))))
      |            ELSE md5(text) END AS winnow_fp
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin)

  /** Unigram-LM corpus-frequency scoring (CCNet-style quality signal —
    * see text.Search.unigramScore): the vocabulary histogram aggregates
    * to O(vocab) rows and BROADCASTS back over the token stream. */
  private def qUnigramScore(s: SparkSession, d: String): DataFrame =
    graft.text.Search.unigramScore(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  query("q_unigram_score", qUnigramScore,
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |hist AS (SELECT term, count(*) AS freq FROM tok GROUP BY term)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(freq) AS BIGINT) AS sum_freq,
      |       CAST((1000 * sum(freq)) // count(*) AS BIGINT) AS mean_freq_milli
      |FROM tok JOIN hist USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Frequency-ranked vocabulary (tokenizer-training stage 1 — see
    * text.Search.buildVocab): top-V types, deterministic tie-break,
    * dense rank-order ids. */
  private def qVocabBuild(s: SparkSession, d: String): DataFrame =
    graft.text.Search.buildVocab(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", 32)
      .orderBy(col("token_id"))
  query("q_vocab_build", qVocabBuild,
    """WITH hist AS (
      |  SELECT term, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term)
      |SELECT term, CAST(freq AS BIGINT) AS freq,
      |       CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER)
      |         AS token_id
      |FROM hist ORDER BY freq DESC, term LIMIT 32""".stripMargin)

  /** Bigram LM counts with exact-integer MLE conditionals (KenLM count
    * stage — see text.Search.bigramCondProbs); minCount=5 is the
    * count-cutoff knob. */
  private def qBigramLm(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bigramCondProbs(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", 5L)
      .orderBy(col("w1"), col("w2"))
  query("q_bigram_lm", qBigramLm,
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |p AS (SELECT unnest(range(1, len(toks))) AS i, toks FROM t),
      |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM p),
      |cab AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2),
      |ca AS (SELECT w1, sum(c_ab) AS c_a FROM cab GROUP BY w1)
      |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
      |       CAST((1000 * c_ab) // c_a AS BIGINT) AS cond_milli
      |FROM cab JOIN ca USING (w1)
      |WHERE c_ab >= 5 ORDER BY w1, w2""".stripMargin)

  /** Composed Gopher-rules quality filter (see TextOps.gopherReason):
    * keep/drop decision + first-failing-rule audit reason per document.
    * Thresholds chosen so both branches of the length, repetition, and
    * stopword rules execute on this corpus. */
  private def qQualityFilter(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.gopherReason(col("text"),
          stopwords = TextOps.Stopwords.toMap.apply("en")).as("reason"))
      .withColumn("keep", col("reason").isNull)
      .orderBy(col("doc_id"))
  // Mirrors TextOps.gopherReason rule-for-rule (punct/bigram exprs are
  // the q_text_quality / q_repetition mirrors already proven bit-equal).
  query("q_quality_filter", qQualityFilter,
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, text, toks,
       |             CAST(len(toks) AS INTEGER) AS n_tokens,
       |             CASE WHEN length(text) > 0
       |                  THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |                  ELSE 0.0 END AS punct,
       |             CASE WHEN len(toks) >= 2
       |                  THEN list_transform(range(1, len(toks)),
       |                         i -> array_to_string(list_slice(toks, i, i + 1), ' '))
       |                  ELSE [] END AS bg,
       |             ${vocabHits(stop("en"))} AS hits
       |      FROM t),
       |r AS (SELECT doc_id, n_tokens,
       |             CASE WHEN n_tokens < 20 THEN 'too_short'
       |                  WHEN n_tokens > 1000 THEN 'too_long'
       |                  WHEN punct > 0.2 THEN 'punct_soup'
       |                  WHEN len(bg) > 0 AND
       |                       CAST(list_max(list_transform(list_distinct(bg),
       |                         x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
       |                         / len(bg) > 0.08 THEN 'repetition'
       |                  WHEN hits = 0 THEN 'no_stopwords'
       |             END AS reason
       |      FROM m)
       |SELECT doc_id, n_tokens, reason, reason IS NULL AS keep
       |FROM r ORDER BY doc_id""".stripMargin)

  /** Bigram-LM fluency scores (the APPLY side of q_bigram_lm's model —
    * see text.Search.bigramFluency): per-doc mean conditional permille,
    * exact integers end to end. */
  private def qBigramFluency(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bigramFluency(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  query("q_bigram_fluency", qBigramFluency,
    s"""WITH $bigramsCte,
       |cab AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2),
       |$bigramModelCte
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(cm) AS BIGINT) AS sum_cond_milli,
       |       CAST(sum(cm) // count(*) AS BIGINT) AS mean_cond_milli
       |FROM bg JOIN m USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** OUT-OF-CORPUS bigram-LM apply (text.Search.bigramFluencyApply): the
    * model trains on the 90% of documents with doc_id % 10 ≠ 0 and
    * scores the held-out 10% — pairs LEFT-join the model, unseen
    * transitions take the backoff floor (n_oov counts them). This is the
    * production quality-filter form: score each new crawl shard against
    * a reference LM it did not train. */
  private def qBigramFluencyOov(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val model = graft.text.Search.bigramCondProbs(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", minCount = 1L)
    graft.text.Search.bigramFluencyApply(
        docs.filter(col("doc_id") % 10 === 0), model, "doc_id", "text",
        backoffMilli = 1L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }
  // Out-of-corpus LM apply: model trained on doc_id % 10 <> 0, held-out
  // 10% scored via LEFT join; unseen transitions take the backoff floor
  // of 1 permille and are counted in n_oov.
  query("q_bigram_fluency_oov", qBigramFluencyOov,
    s"""WITH $bigramsCte,
       |cab AS (SELECT w1, w2, count(*) AS c_ab FROM bg
       |        WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
       |$bigramModelCte,
       |h AS (SELECT doc_id, w1, w2 FROM bg WHERE doc_id % 10 = 0)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(CASE WHEN m.cm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       CAST(CAST(sum(coalesce(m.cm, 1)) AS BIGINT) // count(*) AS BIGINT)
       |         AS mean_cond_milli
       |FROM h LEFT JOIN m USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Trigram STUPID-BACKOFF scoring (text.Search.trigramBackoffApply):
    * models train on the 90% split, the held-out 10% is scored through
    * the full backoff ladder — trigram hit, 0.4·bigram, 0.4²·unigram,
    * OOV floor — all in exact integer permille; the per-level histogram
    * columns prove every branch executes under the gate. */
  private def qTrigramBackoff(s: SparkSession, d: String): DataFrame = {
    // the corpus vocabulary is tiny, so every held-out bigram exists in
    // train and the lower ladder rungs would never run — append a
    // shared-residue tail token (unigram known, bigram novel → 0.4² rung)
    // and a per-doc unique token (true OOV → floor) closed-form, so the
    // gate exercises all four levels
    val docs = spread(t(s, d, "documents"), "doc_id")
      .withColumn("text2", concat(col("text"),
        lit(" tail"), pmod(col("doc_id"), lit(7L)), lit(" uq"), col("doc_id")))
    graft.text.Search.trigramBackoffApply(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text2", backoffMilli = 1L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }
  // Trigram stupid-backoff mirror: same train-split models (trigram
  // permille over full-bigram contexts, 0.4 and 0.4² as exact 2/5 and
  // 4/25 integer ladders), same three left joins over the held-out
  // triple stream.
  query("q_trigram_backoff", qTrigramBackoff,
    """WITH t AS (SELECT doc_id,
      |              string_split(text || ' tail' || CAST(doc_id % 7 AS VARCHAR)
      |                || ' uq' || CAST(doc_id AS VARCHAR), ' ') AS toks
      |            FROM documents),
      |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |       FROM (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
      |             FROM t WHERE len(toks) >= 2)),
      |tg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      |       FROM (SELECT doc_id, unnest(range(1, len(toks) - 1)) AS i, toks
      |             FROM t WHERE len(toks) >= 3)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg
      |        WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
      |tm AS (SELECT w1, w2, w3, (1000 * c123) // c12 AS tri_milli
      |       FROM (SELECT w1, w2, w3, count(*) AS c123 FROM tg
      |             WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3)
      |       JOIN c12 USING (w1, w2)),
      |uni AS (SELECT w, count(*) AS c1
      |        FROM (SELECT doc_id, unnest(toks) AS w FROM t)
      |        WHERE doc_id % 10 <> 0 GROUP BY w),
      |bm AS (SELECT c12.w1 AS w2, c12.w2 AS w3,
      |              (1000 * c12.c12) // uni.c1 AS big_milli
      |       FROM c12 JOIN uni ON uni.w = c12.w1),
      |um AS (SELECT w AS w3,
      |              (1000 * c1) // (SELECT CAST(sum(c1) AS BIGINT) FROM uni) AS uni_milli
      |       FROM uni),
      |h AS (SELECT doc_id, w1, w2, w3 FROM tg WHERE doc_id % 10 = 0),
      |s AS (SELECT h.doc_id,
      |             coalesce(tm.tri_milli, (2 * bm.big_milli) // 5,
      |                      (4 * um.uni_milli) // 25, 1) AS s,
      |             CASE WHEN tm.tri_milli IS NOT NULL THEN 1 ELSE 0 END AS h3,
      |             CASE WHEN tm.tri_milli IS NULL AND bm.big_milli IS NOT NULL
      |                  THEN 1 ELSE 0 END AS h2,
      |             CASE WHEN tm.tri_milli IS NULL AND bm.big_milli IS NULL
      |                       AND um.uni_milli IS NOT NULL THEN 1 ELSE 0 END AS h1
      |      FROM h LEFT JOIN tm USING (w1, w2, w3)
      |             LEFT JOIN bm USING (w2, w3)
      |             LEFT JOIN um USING (w3))
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_positions,
      |       CAST(sum(h3) AS BIGINT) AS n_tri,
      |       CAST(sum(h2) AS BIGINT) AS n_big,
      |       CAST(sum(h1) AS BIGINT) AS n_uni,
      |       CAST(count(*) - sum(h3) - sum(h2) - sum(h1) AS BIGINT) AS n_oov,
      |       CAST(CAST(sum(s) AS BIGINT) // count(*) AS BIGINT) AS mean_milli
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Token-length histogram in 64-token buckets — the packing/batching
    * statistic for sequence-length-aware training batch assembly. */
  private def qLengthBuckets(s: SparkSession, d: String): DataFrame = {
    val n = TextOps.tokenCount(col("text"))
    t(s, d, "documents")
      .select(((n / 64).cast("int") * 64).as("bucket_start"), n.as("n_tokens"))
      .groupBy(col("bucket_start"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy(col("bucket_start"))
  }
  query("q_length_buckets", qLengthBuckets,
    """SELECT CAST((len(string_split(text, ' ')) // 64) * 64 AS INTEGER) AS bucket_start,
      |       count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents GROUP BY 1 ORDER BY bucket_start""".stripMargin)

  /** Text normalization — the cleanup pass upstream of tokenization /
    * dedup: control chars → spaces, lowercase, collapse space runs, trim
    * (TextOps.normalizeText, pure codegen expressions, scan-linear). */
  private def qNormalize(s: SparkSession, d: String): DataFrame = {
    val norm = TextOps.normalizeText(col("text"))
    t(s, d, "documents")
      .select(col("doc_id"), norm.as("norm_text"),
        TextOps.tokenCount(norm).as("n_tok"))
      .orderBy(col("doc_id"))
  }
  query("q_normalize", qNormalize,
    """SELECT doc_id,
      |       trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
      |       CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS INTEGER) AS n_tok
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** PII scrub: the corpus has no natural PII, so deterministic
    * email/phone/IPv4 payloads are synthesized from doc_id (the
    * SynthImages pattern — closed-form, oracle-reproducible) and the REAL
    * detection + redaction runs over them. Counts audit the raw text;
    * red_md5 pins the full redacted string. Narrow codegen regexp over
    * the scan; the only exchange is the output ordering. */
  private def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    val pii = concat(col("text"),
      lit(" Contact u"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@corp.org")).otherwise(lit("")),
      lit(" or +1-555-867-"), (lit(1000) + col("doc_id") % 9000).cast("string"),
      lit(" node 10."), (col("doc_id") % 256).cast("string"),
      lit(".3."), (col("doc_id") % 250).cast("string"))
    val (ne, np, ni) = TextOps.piiCounts(col("t"))
    t(s, d, "documents")
      .select(col("doc_id"), pii.as("t"))
      .select(col("doc_id"), ne.as("n_email"), np.as("n_phone"), ni.as("n_ip"),
        length(TextOps.redactPii(col("t"))).as("red_len"),
        md5(TextOps.redactPii(col("t"))).as("red_md5"))
      .orderBy(col("doc_id"))
  }
  // PII scrub: synthesized payloads (closed-form from doc_id), RE2-side
  // of the alternation-free patterns; counts over raw text, md5 over the
  // redacted string; DuckDB regexp_replace needs the 'g' flag.
  query("q_pii_redact", qPiiRedact,
    """WITH pii AS (
      |  SELECT doc_id,
      |         text || ' Contact u' || CAST(doc_id AS VARCHAR)
      |           || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      |           || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.org' ELSE '' END
      |           || ' or +1-555-867-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
      |           || ' node 10.' || CAST(doc_id % 256 AS VARCHAR)
      |           || '.3.' || CAST(doc_id % 250 AS VARCHAR) AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
      |         CAST(len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phone,
      |         CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
      |         regexp_replace(regexp_replace(regexp_replace(t,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS r
      |  FROM pii)
      |SELECT doc_id, n_email, n_phone, n_ip,
      |       CAST(length(r) AS INTEGER) AS red_len, md5(r) AS red_md5
      |FROM red ORDER BY doc_id""".stripMargin)

  /** Passage chunking: 64-token windows starting every 48 tokens (16
    * overlap), one row per (doc, chunk) — a narrow in-row expansion
    * (TextOps.chunks), no shuffle. */
  private def qChunks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        posexplode(graft.text.TextOps.chunks(col("text"), size = 64, overlap = 16)))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.chunk_text").as("chunk_text"), col("col.n_tok").as("n_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  query("q_chunks", qChunks,
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks,
      |             unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS st
      |      FROM t)
      |SELECT doc_id,
      |       CAST((st - 1) // 48 AS INTEGER) AS chunk_idx,
      |       array_to_string(list_slice(toks, st, st + 63), ' ') AS chunk_text,
      |       CAST(len(list_slice(toks, st, st + 63)) AS INTEGER) AS n_tok
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Quality-vs-length Pareto front (see Relational.skyline2d):
    * the documents no other document beats on BOTH fp6 quality and
    * token count — the multi-objective corpus-selection frontier. */
  private def qParetoFront(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.Stopwords.toMap.apply("en")
    val p = t(s, d, "documents").select(col("doc_id"),
      round(TextOps.qualityScore(col("text"), en) * 1e6).cast("long").as("q_fp6"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    Relational.skyline2d(p, "q_fp6", "n_tokens").orderBy(col("doc_id"))
  }
  // Quality-vs-length Pareto front: the naive NOT-EXISTS dominance
  // check (quadratic — fine at oracle scale; the engine runs the
  // sorted-scan skyline instead).
  query("q_pareto_front", qParetoFront,
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $qualityFeatures
       |  FROM documents),
       |p AS (
       |  SELECT doc_id,
       |         $qualityFp6 AS q_fp6,
       |         CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM t)
       |SELECT doc_id, q_fp6, n_tokens FROM p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM p d
       |  WHERE d.q_fp6 >= p.q_fp6 AND d.n_tokens >= p.n_tokens
       |    AND (d.q_fp6 > p.q_fp6 OR d.n_tokens > p.n_tokens))
       |ORDER BY doc_id""".stripMargin)

  /** word2phrase collocation mining (Search.phraseMining): the
    * phrase-vocabulary induction step before tokenizer training — lift
    * score in exact integer permille, top-20 via TakeOrderedAndProject
    * over the model-sized pair table. */
  /** BPE merge training under the gate (Search.bpeTrainMerges): three
    * rounds of most-frequent-adjacent-pair fusion, each applied
    * corpus-wide through the guarded-string replace before the next
    * count; the oracle unrolls the rounds CTE-for-CTE. */
  private def qBpeTrain(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bpeTrainMerges(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", nMerges = 3)
      .orderBy(col("merge_rank"))
  query("q_bpe_train", qBpeTrain,
    s"""WITH ${bpeMergesCte(carry = false)}
       |SELECT CAST(1 AS INTEGER) AS merge_rank, w1, w2, c AS pair_count FROM m1
       |UNION ALL SELECT CAST(2 AS INTEGER), w1, w2, c FROM m2
       |UNION ALL SELECT CAST(3 AS INTEGER), w1, w2, c FROM m3
       |ORDER BY merge_rank""".stripMargin)

  /** The trained tokenizer applied corpus-wide (Search.bpeApply):
    * per-doc token counts before/after the learned merges — the
    * compression the tokenizer buys, doc by doc. */
  private def qBpeApply(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bpeApply(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", nMerges = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  // BPE apply: same unrolled merge chain, with doc_id carried through
  // the per-round replace; before/after token counts per document.
  query("q_bpe_apply", qBpeApply,
    s"""WITH ${bpeMergesCte(carry = true)}
       |SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_before,
       |       CAST(len(string_split(substr(s, 2, length(s) - 2), ')(')) AS BIGINT) AS n_tok_after
       |FROM s3 ORDER BY doc_id""".stripMargin)

  /** Unigram-LM tokenizer TRAINING (Unigram.unigramTrain — Kudo 2018,
    * SentencePiece's model family, hard-EM variant): substring-seeded
    * vocabulary, two Viterbi-EM rounds over the DISTINCT-word table
    * (vocabulary-bounded — the corpus is scanned once for word counts),
    * single-character pieces protected, final inventory cut to
    * vocabSize. The mainstream tokenizer family next to BPE; fertility/
    * coverage comparisons across the two is the production decision. */
  private def qUnigramTrain(s: SparkSession, d: String): DataFrame =
    graft.text.Unigram.unigramTrain(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text")
      .orderBy(col("n_used").desc, col("piece"))
  // Unigram-LM tokenizer (Kudo 2018, hard-EM): costs are
  // fp6-quantized −ln (the audited q_tfidf transcendental pattern);
  // every DP comparison after quantization is exact BIGINT
  // arithmetic. See unigramSql below for the segmentation mirror.
  query("q_unigram_train", qUnigramTrain, unigramSql(applyMode = false))

  /** Corpus-wide unigram-tokenizer APPLY (Unigram.unigramApply):
    * per-document piece counts under the trained vocabulary — one
    * Viterbi pass over distinct words broadcast back onto the token
    * stream; shares the memoized trained vocabulary with the train
    * row (the BPE-chain artifact discipline). */
  private def qUnigramApply(s: SparkSession, d: String): DataFrame =
    graft.text.Unigram.unigramApply(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  query("q_unigram_apply", qUnigramApply, unigramSql(applyMode = true))

  /** WordPiece tokenizer TRAINING (text.WordPiece.wordpieceTrain,
    * Schuster & Nakajima 2012, the BERT tokenizer family): 10 greedy
    * merge rounds over the distinct-word table ranked by exact
    * fixed-point LIKELIHOOD GAIN c_ab·10¹² div (c_a·c_b) instead of
    * BPE's raw pair frequency — the third mainstream tokenizer family
    * next to BPE and the unigram LM. */
  private def qWordpieceTrain(s: SparkSession, d: String): DataFrame =
    graft.text.WordPiece.wordpieceTrain(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", nMerges = 10)
      .orderBy(col("merge_rank"))
  // WordPiece tokenizer (Schuster & Nakajima 2012, likelihood-gain
  // greedy merges): exact fixed-point integer scores (HUGEINT
  // intermediates, BIGINT outputs — zero transcendentals), unrolled
  // merge rounds + greedy longest-match walk. See wordpieceSql.
  query("q_wordpiece_train", qWordpieceTrain, wordpieceSql(applyMode = false))

  /** Corpus-wide WordPiece APPLY (WordPiece.wordpieceApply):
    * greedy longest-match-first per-word walk (word-level [UNK]) under
    * the trained vocabulary, broadcast back onto the token stream;
    * shares the memoized train loop with the train row. */
  private def qWordpieceApply(s: SparkSession, d: String): DataFrame =
    graft.text.WordPiece.wordpieceApply(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", nMerges = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  query("q_wordpiece_apply", qWordpieceApply, wordpieceSql(applyMode = true))

  /** Three-family tokenizer comparison: corpus-total fertility of
    * word-level BPE (q_bpe_apply's accounting), the unigram LM, and WordPiece
    * under one metric — emitted tokens per whitespace word, permille.
    * This is the production tokenizer decision the triad exists for;
    * each family's chain is the SAME memoized artifact its own gated
    * rows use (Caches.memo), so the comparison reuses — never
    * retrains — the three models within an epoch. */
  private def qTokenizerFamilies(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    def tot(df: DataFrame, fam: String, words: String, toks: String): DataFrame =
      df.agg(sum(col(words)).as("n_words"), sum(col(toks)).as("n_tokens"))
        .select(lit(fam).as("family"), col("n_words"), col("n_tokens"))
    tot(graft.text.Search.bpeApply(docs, "doc_id", "text", nMerges = 3),
        "bpe", "n_tok_before", "n_tok_after")
      .unionByName(tot(graft.text.Unigram.unigramApply(docs, "doc_id", "text"),
        "unigram", "n_words", "n_pieces"))
      .unionByName(tot(graft.text.WordPiece.wordpieceApply(docs, "doc_id", "text",
          nMerges = 10),
        "wordpiece", "n_words", "n_pieces"))
      .withColumn("fertility_permille", expr("n_tokens * 1000 div n_words"))
      .orderBy(col("family"))
  }
  // Three-family tokenizer comparison (BPE / unigram-LM / WordPiece):
  // the three apply pipelines' corpus totals in ONE statement —
  // each family's CTE block is the same generator its own gated row
  // uses (uni*/wp* helpers and bpeMergesCte).
  query("q_tokenizer_families", qTokenizerFamilies, tokenizerFamiliesSql)

  private def qPhraseMining(s: SparkSession, d: String): DataFrame =
    graft.text.Search.phraseMining(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text",
      delta = 5, minCount = 10, topK = 20)
  // word2phrase lift in integer permille over the pair + unigram
  // histograms; top-20 with (w1, w2) tie-break (unique per row, so the
  // cut is deterministic).
  query("q_phrase_mining", qPhraseMining,
    """WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |pr AS (
      |  SELECT toks, unnest(range(1, len(toks))) AS i FROM tk
      |  WHERE len(toks) >= 2),
      |cab AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2,
      |         CAST(count(*) AS BIGINT) AS c_ab
      |  FROM pr GROUP BY 1, 2
      |  HAVING count(*) >= 10),
      |uni AS (SELECT unnest(toks) AS w FROM tk),
      |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni)
      |SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b,
      |       CAST((c_ab - 5) * 1000 * n.n_tok // (ca.c * cb.c) AS BIGINT) AS score_permille
      |FROM cab JOIN cu ca ON ca.w = cab.w1
      |         JOIN cu cb ON cb.w = cab.w2, n
      |ORDER BY score_permille DESC, w1, w2 LIMIT 20""".stripMargin)

  /** AUTO-SIZED count-min sketch (CountMin.widthFor): the
    * q_cms_freq row fixes width=512 as the oracle-teaching shape; here the
    * width derives from the corpus itself — w = clamp(⌈e·n/t⌉, 2048,
    * 2²⁴) at target absolute error t = 50 over TOKEN occurrences (the
    * heavy-tailed key space a 100 TB pipeline actually sketches), so a
    * ×N corpus keeps ε·N ≈ t instead of degrading ×N. n is the exact
    * token-occurrence count, memoized per epoch (Caches.memo — one
    * column-pruned scan-aggregate; a deployment substitutes table
    * stats, the rule being linear tolerates a few % either way). Every
    * gate corpus lands on the floor (≈27 k occurrences → 2048 — static
    * sketch geometry under the hash gate, the simhash64 precedent);
    * the sf0.1 bench corpus (~271 k) derives ~14 731 and the ×10/×100
    * studies scale it further. Probes = top-20 exact heavy tokens
    * (TakeOrderedAndProject — bounded at any scale); readout keeps the
    * one-sided contract visible (n_est ≥ n_exact always) plus the
    * derived width as a column, so a wrong derivation hash-mismatches. */
  private def qCmsAuto(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val n = graft.Caches.memo(
      ("cms-auto-n", toks.queryExecution.logical.canonicalized)) {
      toks.count()
    }
    val w = ops.CountMin.widthFor(n, targetAbsErr = 50)
    val sk = ops.CountMin.build(toks, col("tok"), depth = 4, width = w)
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok")).limit(20)
    ops.CountMin.estimate(probes.select(col("tok")), col("tok"), sk,
        depth = 4, width = w)
      .select(col("k").as("tok"), col("n_est"))
      .join(probes, Seq("tok"))
      .select(col("tok"), col("n_exact"), col("n_est"),
        lit(w).as("width"))
      .orderBy(col("tok"))
  }
  query("q_cms_auto", qCmsAuto,
    // The width is DERIVED in SQL — clamp(⌈e·n/50⌉, 2048, 2²⁴), the
    // exact CountMin.widthFor rule (exp(1) and the product/division
    // order are the same IEEE doubles both engines) — so the oracle
    // follows the engine's data-sized geometry at ANY SF instead of
    // pinning the gate corpus's 2048 floor (sf0.1 derives 14717, and a
    // width mismatch changes every bucket and estimate).
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |wd AS (SELECT LEAST(16777216, GREATEST(2048,
      |         CAST(ceil(exp(1) * count(*) / 50) AS BIGINT))) AS w FROM tok),
      |ds AS (SELECT unnest(range(4)) AS depth),
      |h AS (
      |  SELECT d.depth,
      |         CAST(concat('0x', substring(md5(concat(CAST(d.depth AS VARCHAR), ':', t.tok)), 1, 15)) AS BIGINT) % (SELECT w FROM wd) AS bucket
      |  FROM tok t, ds d),
      |counters AS (SELECT depth, bucket, count(*) AS c FROM h GROUP BY 1, 2),
      |probe AS (SELECT tok, count(*) AS n_exact FROM tok GROUP BY tok
      |          ORDER BY n_exact DESC, tok LIMIT 20),
      |pb AS (
      |  SELECT p.tok, d.depth,
      |         CAST(concat('0x', substring(md5(concat(CAST(d.depth AS VARCHAR), ':', p.tok)), 1, 15)) AS BIGINT) % (SELECT w FROM wd) AS bucket
      |  FROM probe p, ds d),
      |est AS (
      |  SELECT pb.tok, min(coalesce(c.c, 0)) AS n_est
      |  FROM pb LEFT JOIN counters c USING (depth, bucket)
      |  GROUP BY 1)
      |SELECT probe.tok, probe.n_exact, est.n_est,
      |       CAST((SELECT w FROM wd) AS INTEGER) AS width
      |FROM probe JOIN est USING (tok)
      |ORDER BY tok""".stripMargin)

  /** EXACT heavy hitters at unbounded key cardinality — the two-pass
    * Misra–Gries pattern: pass 1 reduces the token stream to an O(k)
    * candidate sketch (guarantee: every key with freq > n/(k+1)
    * survives; k=512 ≫ the 200 threshold divisor), pass 2 exact-counts
    * ONLY candidate-matching rows via a broadcast semi-join — the full
    * token key space is never shuffled, which is the entire point when
    * distinct keys outnumber what one exchange can move. The output is
    * the exact counts, so it is deterministic even though the sketch
    * content is partitioning-dependent. */
  private def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val mg = toks.agg(MisraGries(col("tok"), 512).as("m"))
      .select(col("m.n").as("n_tot"), explode(col("m.keys")).as("tok"))
    toks.join(broadcast(mg), Seq("tok"))
      .groupBy(col("tok"), col("n_tot"))
      .agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") * 200L > col("n_tot"))
      .select(col("tok"), col("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
  }
  // Heavy hitters: the engine's Misra–Gries candidate pass is only an
  // optimization — the verified OUTPUT is the exact count set, which
  // plain GROUP BY/HAVING reproduces.
  query("q_heavy_hitters", qHeavyHitters,
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT tok, count(*) AS n_exact
      |FROM tok GROUP BY tok
      |HAVING count(*) * 200 > (SELECT count(*) FROM tok)
      |ORDER BY n_exact DESC, tok""".stripMargin)

  /** ZIPF rank-frequency SLOPE — the vocabulary-health diagnostic
    * (natural corpora fit slope ≈ −1; a slope collapsing toward 0 means
    * boilerplate/dedup failure upstream, a cliff past −2 means a
    * degenerate generator): OLS of ln(freq) on ln(rank) over the vocab
    * table. Numeric discipline: logs fixed-pointed at 1e3, the six SUMS
    * exact BIGINTs (Σx·y ≤ V·5.9e8 holds to V ≈ 1.5e10 distinct tokens),
    * and the FINALE — n·Σxy − Σx·Σy and friends — computed in DOUBLE:
    * the integer form wraps BIGINT silently around V ≈ 10⁶ (n·sxy ≈
    * V²·6e8 > 2⁶³), exactly the vocab size a real corpus hits. Each
    * sum→double cast and product is one correctly-rounded IEEE op in a
    * fixed order, so both engines still agree bit-for-bit at any V. The
    * rank window runs over the VOCAB table (model-sized, the
    * q_vocab_build precedent), never the corpus. */
  private def qZipfSlope(s: SparkSession, d: String): DataFrame = {
    def lnFp3(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(log(c.cast("double")) * 1e3).cast("long")
    val vocab = t(s, d, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val xy = vocab
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok").asc))
          .cast("long"))
      .select(lnFp3(col("rank")).as("x"), lnFp3(col("freq")).as("y"))
    val agg = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    def dbl(name: String) = col(name).cast("double")
    val dn = dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")
    val dd = dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")
    val de = dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")
    agg.select(col("n"),
      round(dn / dd * 1e6).cast("long").as("slope_fp6"),
      round(dn * dn / (dd * de) * 1e3).cast("long").as("r2_permille"))
  }
  // Zipf slope: logs fixed-pointed at 1e3, exact integer sums, slope
  // and R² as correctly-rounded double ops on exactly-representable
  // inputs — identical bits in any IEEE 754 engine.
  query("q_zipf_slope", qZipfSlope,
    """WITH vocab AS (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok),
      |xy AS (
      |  SELECT CAST(round(ln(row_number() OVER (ORDER BY freq DESC, tok ASC)) * 1000) AS BIGINT) AS x,
      |         CAST(round(ln(freq) * 1000) AS BIGINT) AS y
      |  FROM vocab),
      |s AS (
      |  SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM xy)
      |, d AS (
      |  SELECT n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS dn,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dd,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS de
      |  FROM s)
      |SELECT n,
      |       CAST(round(dn / dd * 1000000) AS BIGINT) AS slope_fp6,
      |       CAST(round(dn * dn / (dd * de) * 1000) AS BIGINT) AS r2_permille
      |FROM d""".stripMargin)

  /** PRECISION/RECALL operating-point sweep of the linear quality
    * classifier against the Gopher composite filter as truth — how a
    * keep-threshold is actually chosen before deploying the cheap
    * classifier in place of the full rule set. Ten thresholds, exact
    * integer TP/FP/FN per threshold, precision/recall in integer
    * permille. ONE corpus scan: the 10-row threshold table broadcasts
    * into a cross join and map-side partials collapse to 10 rows per
    * partition before the only exchange. */
  private def qQualityPr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val en = TextOps.Stopwords.toMap.apply("en")
    val txt = col("text")
    val scored = t(s, d, "documents")
      .select(col("doc_id"), txt.as("text"),
        TextOps.tokenCount(txt).cast("long").as("n_tok"),
        TextOps.vocabHits(txt, en).cast("long").as("n_stop"),
        length(regexp_replace(txt, " ", "")).cast("long").as("n_cns"))
      .withColumn("mean_tok_len_milli", expr("n_cns * 1000 div n_tok"))
      .withColumn("margin", lit(-30000L) + lit(400L) * col("n_tok")
        + lit(2000L) * col("n_stop") - col("mean_tok_len_milli"))
      .withColumn("truth", TextOps.gopherReason(col("text"), en).isNull)
      .select(col("margin"), col("truth"))
    val th = (-20000L to 25000L by 5000L).toDF("thr")
    scored.crossJoin(broadcast(th))
      .groupBy(col("thr"))
      .agg(
        sum(when(col("margin") >= col("thr") && col("truth"), 1L)
          .otherwise(0L)).as("n_tp"),
        sum(when(col("margin") >= col("thr") && !col("truth"), 1L)
          .otherwise(0L)).as("n_fp"),
        sum(when(col("margin") < col("thr") && col("truth"), 1L)
          .otherwise(0L)).as("n_fn"))
      .withColumn("precision_permille",
        expr("CASE WHEN n_tp + n_fp > 0 THEN n_tp * 1000 div (n_tp + n_fp) END"))
      .withColumn("recall_permille",
        expr("CASE WHEN n_tp + n_fn > 0 THEN n_tp * 1000 div (n_tp + n_fn) END"))
      .orderBy(col("thr"))
  }
  // Precision/recall sweep: margin from the q_quality_margin CTEs, truth from the
  // q_quality_filter Gopher CASE, counts per threshold exact.
  query("q_quality_pr", qQualityPr, {
    val hits = vocabHits(stop("en"))
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         CAST($hits AS BIGINT) AS n_stop,
       |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_cns
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         -30000 + 400 * n_tok + 2000 * n_stop
       |           - (n_cns * 1000 // n_tok) AS margin,
       |         CAST(n_tok AS INTEGER) AS n_tokens,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_transform(range(1, len(toks)),
       |                     i -> array_to_string(list_slice(toks, i, i + 1), ' '))
       |              ELSE [] END AS bg,
       |         CAST($hits AS BIGINT) AS hits
       |  FROM t),
       |r AS (
       |  SELECT margin,
       |         (CASE WHEN n_tokens < 20 THEN 'too_short'
       |               WHEN n_tokens > 1000 THEN 'too_long'
       |               WHEN punct > 0.2 THEN 'punct_soup'
       |               WHEN len(bg) > 0 AND
       |                    CAST(list_max(list_transform(list_distinct(bg),
       |                      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
       |                      / len(bg) > 0.08 THEN 'repetition'
       |               WHEN hits = 0 THEN 'no_stopwords'
       |          END) IS NULL AS truth
       |  FROM m),
       |th AS (SELECT unnest(range(-20000, 30000, 5000)) AS thr),
       |agg AS (
       |  SELECT thr,
       |         count(*) FILTER (WHERE margin >= thr AND truth) AS n_tp,
       |         count(*) FILTER (WHERE margin >= thr AND NOT truth) AS n_fp,
       |         count(*) FILTER (WHERE margin < thr AND truth) AS n_fn
       |  FROM r, th GROUP BY thr)
       |SELECT thr, n_tp, n_fp, n_fn,
       |       CASE WHEN n_tp + n_fp > 0 THEN n_tp * 1000 // (n_tp + n_fp) END AS precision_permille,
       |       CASE WHEN n_tp + n_fn > 0 THEN n_tp * 1000 // (n_tp + n_fn) END AS recall_permille
       |FROM agg ORDER BY thr""".stripMargin
  })

  /** HEAPS'-LAW vocabulary-growth curve (TextOps.vocabGrowth): distinct
    * vocab vs cumulative corpus size at ten doc-id checkpoints — the
    * companion corpus-health diagnostic to the Zipf slope (early
    * flattening = templated corpus, near-linear = ID/noise flood). One
    * O(V) exchange; the 10-row checkpoint table broadcasts. */
  private def qVocabGrowth(s: SparkSession, d: String): DataFrame =
    TextOps.vocabGrowth(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text",
        nCheckpoints = 10)
      .orderBy(col("cp_idx"))
  // Heaps'-law growth: first-occurrence doc per token, decile doc-id
  // checkpoints off one max(id) scalar; LEFT JOIN + COALESCE mirrors
  // the Spark side's empty-checkpoint handling.
  query("q_vocab_growth", qVocabGrowth,
    """WITH b AS (SELECT max(doc_id) + 1 AS bound FROM documents),
      |cps AS (
      |  SELECT CAST(u.k AS BIGINT) AS cp_idx,
      |         CAST(u.k * b.bound // 10 AS BIGINT) AS cp_doc_bound
      |  FROM b, unnest(range(1, 11)) AS u(k)),
      |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |first AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
      |v AS (
      |  SELECT c.cp_idx, CAST(count(*) AS BIGINT) AS n_vocab
      |  FROM cps c JOIN first f ON f.first_doc < c.cp_doc_bound
      |  GROUP BY c.cp_idx),
      |dd AS (
      |  SELECT c.cp_idx, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM cps c JOIN documents ON doc_id < c.cp_doc_bound
      |  GROUP BY c.cp_idx)
      |SELECT c.cp_idx, c.cp_doc_bound,
      |       COALESCE(dd.n_docs, 0) AS n_docs,
      |       COALESCE(dd.n_tokens, 0) AS n_tokens,
      |       COALESCE(v.n_vocab, 0) AS n_vocab
      |FROM cps c LEFT JOIN dd ON dd.cp_idx = c.cp_idx
      |           LEFT JOIN v ON v.cp_idx = c.cp_idx
      |ORDER BY c.cp_idx""".stripMargin)

  /** TOKENIZER FERTILITY per language — tokens-per-word and
    * tokens-per-char of the trained BPE (3 merges) by language bucket:
    * the tokenizer-fairness diagnostic (a language whose fertility runs
    * hot pays more sequence length per sentence and trains/serves
    * worse). Reuses the guarded-string BPE train+apply chain; the
    * per-doc counts join back to the corpus on doc_id (co-partitioned
    * equi-join) and collapse to #languages rows. Ratios are integer
    * permille via truncating div — exact in both engines. */
  private def qTokenFertility(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val applied = graft.text.Search.bpeApply(docs, "doc_id", "text", nMerges = 3)
      .withColumnRenamed("id", "doc_id")
    applied
      .join(t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_tok_before")).as("n_tok_word"),
        sum(col("n_tok_after")).as("n_tok_bpe"))
      .withColumn("fertility_permille",
        expr("n_tok_bpe * 1000 div n_tok_word"))
      .withColumn("chars_per_bpe_permille",
        expr("n_chars * 1000 div n_tok_bpe"))
      .orderBy(col("lang"))
  }
  // Tokenizer fertility per language: the q_bpe_apply 3-round merge
  // CTEs grouped by lang; ratios via truncating // on BIGINT-cast
  // sums (HUGEINT never reaches the output).
  query("q_token_fertility", qTokenFertility,
    s"""WITH ${bpeMergesCte(carry = true)},
       |agg AS (
       |  SELECT d.lang,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(length(s3.text)) AS BIGINT) AS n_chars,
       |         CAST(sum(len(string_split(s3.text, ' '))) AS BIGINT) AS n_tok_word,
       |         CAST(sum(len(string_split(substr(s3.s, 2, length(s3.s) - 2), ')('))) AS BIGINT) AS n_tok_bpe
       |  FROM s3 JOIN documents d ON d.doc_id = s3.doc_id
       |  GROUP BY d.lang)
       |SELECT lang, n_docs, n_chars, n_tok_word, n_tok_bpe,
       |       CAST(n_tok_bpe * 1000 // n_tok_word AS BIGINT) AS fertility_permille,
       |       CAST(n_chars * 1000 // n_tok_bpe AS BIGINT) AS chars_per_bpe_permille
       |FROM agg ORDER BY lang""".stripMargin)

  /** Per-doc character-histogram quality stats (TextOps.charEntropyFp9):
    * the gibberish/low-diversity filter, fully in-row (sort + run-length,
    * zero exchange before the output ordering). The gated output is the
    * exact integer sufficient statistics (n_chars, n_uniq, md5 histogram
    * checksum); the fixed-point entropy h_fp9 itself is a derived display
    * value kept out of the hash gate — libm ln is not cross-engine
    * portable. */
  private def qCharEntropy(s: SparkSession, d: String): DataFrame =
    TextOps.charEntropyFp9(t(s, d, "documents"), "doc_id", "text")
      .drop("h_fp9")
      .orderBy(col("doc_id"))
  // Character histogram stats: the HASHED contract is the exact integer
  // sufficient statistics of the per-char histogram — counts plus an
  // order-free md5 checksum Σ cnt·h31(c) — from which entropy is a
  // derived display value (TextOps.charEntropyFp9 keeps the fixed-point
  // ln form OUTSIDE the gate: libm `ln` is not required to be correctly
  // rounded, so round(ln(k)·1e9) is not a portable hash contract; the
  // driver's comparer also hash-mismatches an uncast SUM(BIGINT) = HUGEINT).
  // The oracle uses the exploded GROUP BY histogram, the engine the
  // in-row run-length form — identical integers.
  query("q_char_entropy", qCharEntropy,
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c
      |  FROM documents WHERE length(text) > 0),
      |h AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
      |a AS (
      |  SELECT doc_id, SUM(cnt) AS n, count(*) AS n_uniq,
      |         SUM(cnt * (CAST(concat('0x', substring(md5(c), 1, 15)) AS BIGINT)
      |                    % 2147483648)) AS hist_fp
      |  FROM h GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_chars, CAST(n_uniq AS INTEGER) AS n_uniq,
      |       CAST(hist_fp AS BIGINT) AS hist_fp
      |FROM a ORDER BY doc_id""".stripMargin)

  /** CCNet-style per-language head/middle/tail LM buckets (see
    * text.Search.lmBuckets): value-tertile boundaries off the score
    * histogram, never a per-language window. */
  private def qLmBucket(s: SparkSession, d: String): DataFrame =
    graft.text.Search.lmBuckets(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", "lang")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  // CCNet-style per-language LM buckets: value-tertile boundaries from
  // the per-(lang, score) histogram — ties never split, windows only
  // over the histogram.
  query("q_lm_bucket", qLmBucket,
    """WITH tok AS (
      |  SELECT doc_id AS id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |hist AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
      |scored AS (
      |  SELECT id, lang, CAST((1000 * sum(freq)) // count(*) AS BIGINT) AS score
      |  FROM tok JOIN hist USING (term) GROUP BY id, lang),
      |sh AS (SELECT lang, score, count(*) AS c FROM scored GROUP BY lang, score),
      |cum AS (
      |  SELECT lang, score,
      |         sum(c) OVER (PARTITION BY lang ORDER BY score DESC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ge,
      |         sum(c) OVER (PARTITION BY lang) AS n
      |  FROM sh),
      |bnd AS (
      |  SELECT lang,
      |         max(CASE WHEN c_ge >= (n + 2) // 3 THEN score END) AS b1,
      |         max(CASE WHEN c_ge >= (2 * n + 2) // 3 THEN score END) AS b2
      |  FROM cum GROUP BY lang)
      |SELECT id AS doc_id, lang, score,
      |       CASE WHEN score >= b1 THEN 'head'
      |            WHEN score >= b2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM scored JOIN bnd USING (lang)
      |ORDER BY doc_id""".stripMargin)

  /** Span-corruption mask plan (see TextOps.spanCorruptionPlan):
    * T5-style deterministic corruption spans, start rate 1/20, lengths
    * 1..5, overlap-merged accounting per document. */
  private def qSpanCorruption(s: SparkSession, d: String): DataFrame =
    TextOps.spanCorruptionPlan(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", startMod = 20, maxLen = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  // Span-corruption mask plan: md5-deterministic span starts (mod 20)
  // and lengths (1..5), interval-UNION merge via running-max windows —
  // identical formulation both engines, exact integers end to end.
  query("q_span_corruption", qSpanCorruption,
    """WITH t AS (
      |  SELECT doc_id AS id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
      |pos AS (SELECT id, n_tokens, unnest(range(1, n_tokens + 1)) AS p FROM t),
      |st AS (
      |  SELECT id, n_tokens, p,
      |         1 + CAST(concat('0x', substring(md5(concat(CAST(id AS VARCHAR), ':', CAST(p AS VARCHAR), ':len')), 1, 15)) AS BIGINT) % 5 AS len
      |  FROM pos
      |  WHERE CAST(concat('0x', substring(md5(concat(CAST(id AS VARCHAR), ':', CAST(p AS VARCHAR))), 1, 15)) AS BIGINT) % 20 = 0),
      |sp AS (SELECT id, p, least(p + len - 1, n_tokens) AS e FROM st),
      |m AS (
      |  SELECT id, p, e,
      |         max(e) OVER (PARTITION BY id ORDER BY p, e
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM sp),
      |f AS (
      |  SELECT id, p, e,
      |         sum(CASE WHEN pmax IS NULL OR p > pmax THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY id ORDER BY p, e
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM m),
      |mg AS (SELECT id, grp, min(p) AS s, max(e) AS e2, count(*) AS nraw
      |       FROM f GROUP BY id, grp),
      |pd AS (SELECT id, CAST(sum(nraw) AS BIGINT) AS n_spans_raw,
      |              CAST(count(*) AS BIGINT) AS n_spans,
      |              CAST(sum(e2 - s + 1) AS BIGINT) AS n_masked
      |       FROM mg GROUP BY id)
      |SELECT t.id AS doc_id, t.n_tokens,
      |       COALESCE(pd.n_spans_raw, 0) AS n_spans_raw,
      |       COALESCE(pd.n_spans, 0) AS n_spans,
      |       COALESCE(pd.n_masked, 0) AS n_masked,
      |       CAST((1000 * COALESCE(pd.n_masked, 0)) // t.n_tokens AS BIGINT)
      |         AS mask_permille
      |FROM t LEFT JOIN pd ON t.id = pd.id
      |ORDER BY doc_id""".stripMargin)

  /** Tokenizer vocabulary coverage per language (see
    * text.Search.vocabCoverage): OOV permille against the top-32
    * frequency vocab. */
  private def qVocabCoverage(s: SparkSession, d: String): DataFrame =
    graft.text.Search.vocabCoverage(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", "lang", vocabSize = 32)
      .orderBy(col("lang"))
  // Tokenizer vocabulary coverage: OOV permille per language against
  // the top-32 frequency vocab (freq DESC, term tie-break — the
  // q_vocab_build ordering).
  query("q_vocab_coverage", qVocabCoverage,
    """WITH hist AS (
      |  SELECT term, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term),
      |voc AS (SELECT term FROM hist ORDER BY freq DESC, term LIMIT 32),
      |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN voc.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST((1000 * sum(CASE WHEN voc.term IS NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS oov_permille
      |FROM tok LEFT JOIN voc ON tok.term = voc.term
      |GROUP BY lang ORDER BY lang""".stripMargin)

  /** Filter-chain attrition funnel (see text.TextOps
    * .filterFunnel): five fixed-order cleaning stages, docs charged to
    * the FIRST stage that drops them, cumulative keep rate in integer
    * permille — one scan, one one-row aggregate, in-row unpack.
    * Thresholds sized so every stage removes documents at sf0.01. */
  private def qFilterFunnel(s: SparkSession, d: String): DataFrame =
    TextOps.filterFunnel(t(s, d, "documents"), "text", "n_chars", "lang",
      minTokens = 15, maxChars = 450, cptLo = 4800, cptHi = 6100,
      allowedLangs = Seq("en", "es", "de", "fr"), blockTerm = "dup")
  // Filter-chain attrition funnel: cumulative-conjunction counts in one
  // aggregate, unpacked to the five-row funnel via UNION ALL. Stage
  // predicates mirror qFilterFunnel verbatim.
  query("q_filter_funnel", qFilterFunnel,
    """WITH b AS (
      |  SELECT len(string_split(text, ' ')) >= 15 AS b1,
      |         n_chars <= 450 AS b2,
      |         (1000 * n_chars) // len(string_split(text, ' '))
      |           BETWEEN 4800 AND 6100 AS b3,
      |         lang IN ('en', 'es', 'de', 'fr') AS b4,
      |         NOT contains(text, 'dup') AS b5
      |  FROM documents),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |         CAST(sum(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
      |         CAST(sum(CASE WHEN b1 AND b2 AND b3 AND b4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
      |         CAST(sum(CASE WHEN b1 AND b2 AND b3 AND b4 AND b5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
      |  FROM b),
      |f AS (
      |  SELECT 1 AS stage, 'min_tokens' AS rule, c0 AS docs_in, c1 AS docs_kept, c0 FROM s
      |  UNION ALL SELECT 2, 'max_chars', c1, c2, c0 FROM s
      |  UNION ALL SELECT 3, 'chars_per_token', c2, c3, c0 FROM s
      |  UNION ALL SELECT 4, 'lang_allowed', c3, c4, c0 FROM s
      |  UNION ALL SELECT 5, 'blocklist', c4, c5, c0 FROM s)
      |SELECT CAST(stage AS INTEGER) AS stage, rule, docs_in, docs_kept,
      |       docs_in - docs_kept AS docs_removed,
      |       (1000 * docs_kept) // c0 AS keep_permille
      |FROM f ORDER BY stage""".stripMargin)

  /** Character-class mix per language (see text.TextOps
    * .scriptMix): the script-detection proxy; classes deliberately
    * include an overlapping probe (vowels ⊂ letters) and an empty class
    * (digits — the corpus has none) so both branches are under the
    * gate. */
  private def qScriptMix(s: SparkSession, d: String): DataFrame =
    TextOps.scriptMix(t(s, d, "documents"), "text", "lang", Seq(
      "letters" -> "[a-z]",
      "vowels" -> "[aeiou]",
      "digits" -> "[0-9]",
      "spaces" -> " "))
  // Character-class mix per language: length − length(replace) counts,
  // one UNION ALL branch per class (the engine computes all classes in
  // one scan; 4 scans are fine for the oracle). 'g' flag: DuckDB
  // regexp_replace is first-match-only by default.
  query("q_script_mix", qScriptMix, {
    def branch(name: String, re: String) =
      s"""SELECT lang, '$name' AS char_class,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(length(text)) AS BIGINT) AS lang_chars,
         |       CAST(sum(length(text) - length(regexp_replace(text, '$re', '', 'g'))) AS BIGINT)
         |         AS class_chars
         |FROM documents GROUP BY lang""".stripMargin
    s"""WITH u AS (
       |${branch("letters", "[a-z]")}
       |UNION ALL
       |${branch("vowels", "[aeiou]")}
       |UNION ALL
       |${branch("digits", "[0-9]")}
       |UNION ALL
       |${branch("spaces", " ")})
       |SELECT lang, char_class, n_docs, lang_chars, class_chars,
       |       (1000 * class_chars) // lang_chars AS share_permille
       |FROM u ORDER BY lang, char_class""".stripMargin
  })

  /** One-row corpus dataset card: the header block of a
    * datasheet — volumes, diversity counts, and the exact-dup rate —
    * each an O(1)-output aggregate over one documents scan (the
    * fingerprint distinct is the only exchange). */
  private def qDatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_sources"), col("n_distinct_fp"),
        expr("(1000 * (n_docs - n_distinct_fp)) div n_docs").as("dup_permille"))
  }
  // One-row corpus dataset card: volumes, diversity, exact-dup rate.
  query("q_dataset_card", qDatasetCard,
    s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |       CAST(count(DISTINCT $fpExpr) AS BIGINT) AS n_distinct_fp,
       |       CAST((1000 * (count(*) - count(DISTINCT $fpExpr))) // count(*) AS BIGINT) AS dup_permille
       |FROM documents""".stripMargin)

  /** Shared generator for the unigram-LM train/apply oracles — mirrors
    * graft.text.Unigram with maxPieceLen=4, maxWordLen=16, rounds=2,
    * minCount=2, vocabSize=64 (the registry rows' parameters).
    *
    * Segmentation is mirrored as a fully UNROLLED, NON-RECURSIVE
    * Viterbi DP + greedy backtrace (maxWordLen chained CTEs each):
    * dp_p = min over piece length l of dp_(p-l) + cost(piece at
    * (p, l)); the backtrace takes at each landed position the SMALLEST
    * l that reproduces dp — exactly the engine's tie-break, which
    * UnigramSpec proves equal to the lexicographic minimum over
    * min-cost paths by brute-force path enumeration. (A recursive-CTE
    * path-enumeration oracle — <= 2^(len-1) paths per word — gives the
    * same values at sf0.001/sf0.01 but costs ~65 s of DuckDB time at
    * sf0.01 and ~500 s at sf0.1; the DP form is linear in word length
    * and keeps both rows in the non-recursive yardstick set.) Single-character pieces always stay
    * in the vocabulary, so every dp state is reachable and the joins
    * are total. */
  private def unigramSql(applyMode: Boolean): String =
    if (!applyMode)
      s"""WITH
$wrdCte,
$uniModelCtes
SELECT piece, c AS n_used, cost AS cost_fp6 FROM sel
ORDER BY n_used DESC, piece"""
    else
      s"""WITH
$wrdCte,
$uniModelCtes,
$uniNpsCtes
SELECT t.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(b.np) AS BIGINT) AS n_pieces,
       CAST(SUM(b.np) * 1000 // count(*) AS BIGINT) AS pieces_per_word_permille
FROM (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents) t
JOIN nps b USING (w)
WHERE length(t.w) > 0
GROUP BY t.id
ORDER BY doc_id"""

  /** Distinct words with corpus counts — shared by the unigram,
    * WordPiece, and three-family oracles (mirrors Unigram.wordCounts). */
  private def wrdCte: String =
    """wrd AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w)"""

  private final val uniMpl = 4; private final val uniMwl = 16

  private final val uniMinCount = 2; private final val uniVocabSize = 64

  /** sub → seed → v0 → two EM rounds → sel: the unigram model CTEs
    * (everything between `wrd` and the final select), reused verbatim
    * by the three-family oracle. */
  private def uniModelCtes: String =
    s"""sub AS MATERIALIZED (
  SELECT wrd.w, wrd.c_w,
         substring(wrd.w, CAST(p.p AS INT) - CAST(l.l AS INT) + 1, CAST(l.l AS INT)) AS piece
  FROM wrd, range(1, ${uniMwl + 1}) p(p), range(1, ${uniMpl + 1}) l(l)
  WHERE p.p <= length(wrd.w) AND l.l <= p.p),
seed AS MATERIALIZED (
  SELECT piece, CAST(SUM(c_w) AS BIGINT) AS c FROM sub GROUP BY piece
  HAVING length(piece) = 1 OR SUM(c_w) >= $uniMinCount),
v0 AS MATERIALIZED (
  SELECT piece, c,
         CAST(round(-ln(CAST(c AS DOUBLE) / CAST((SELECT SUM(c) FROM seed) AS DOUBLE)) * 1000000) AS BIGINT) AS cost
  FROM seed),
${uniRoundBlock(1)},
${uniRoundBlock(2)},
sel AS MATERIALIZED (
  SELECT piece, c, cost FROM v2 WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c, cost FROM (
    SELECT piece, c, cost, row_number() OVER (ORDER BY c DESC, piece) AS rn
    FROM v2 WHERE length(piece) > 1)
  WHERE rn <= $uniVocabSize - (SELECT count(*) FROM v2 WHERE length(piece) = 1))"""

  /** Final-vocabulary segmentation of every distinct word + the
    * per-word piece counts `nps` — the unigram apply CTEs. */
  private def uniNpsCtes: String =
    s"""${uniSegBlock("A", "sel")},
nps AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS np FROM segA GROUP BY w)"""

  private def uniRoundBlock(rr: Int): String =
    s"""${uniSegBlock(rr.toString, s"v${rr - 1}")},
usage$rr AS MATERIALIZED (
  SELECT piece, CAST(SUM(c_w) AS BIGINT) AS u
  FROM seg$rr JOIN wrd USING (w) GROUP BY piece),
vv$rr AS MATERIALIZED (
  SELECT s.piece, GREATEST(COALESCE(u.u, 0), 1) AS c
  FROM (SELECT piece FROM v${rr - 1} WHERE length(piece) = 1) s
  LEFT JOIN usage$rr u USING (piece)
  UNION ALL
  SELECT piece, u AS c FROM usage$rr WHERE length(piece) > 1 AND u >= $uniMinCount),
v$rr AS MATERIALIZED (
  SELECT piece, c,
         CAST(round(-ln(CAST(c AS DOUBLE) / CAST((SELECT SUM(c) FROM vv$rr) AS DOUBLE)) * 1000000) AS BIGINT) AS cost
  FROM vv$rr)"""

  /** Unrolled Viterbi DP + greedy backtrace over vocabulary CTE
    * `vocabCte` (piece, ..., cost): emits seg$r = one row per
    * (w, chosen-piece occurrence). */
  private def uniSegBlock(r: String, vocabCte: String): String = {
    val mpl = uniMpl; val mwl = uniMwl
      val cand =
        s"""cand$r AS MATERIALIZED (
  SELECT wrd.w, CAST(p.p AS INT) AS p, CAST(l.l AS INT) AS l, v.cost
  FROM wrd, range(1, ${mwl + 1}) p(p), range(1, ${mpl + 1}) l(l), $vocabCte v
  WHERE p.p <= length(wrd.w) AND l.l <= p.p
    AND v.piece = substring(wrd.w, CAST(p.p AS INT) - CAST(l.l AS INT) + 1, CAST(l.l AS INT)))"""
      val dp0 = s"dp${r}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS c FROM wrd)"
      val dps = (1 to mwl).map { p =>
        val arms = (1 to math.min(mpl, p)).map { l =>
          s"    SELECT d.w, d.c + cd.cost AS c FROM dp${r}_${p - l} d" +
            s" JOIN cand$r cd ON cd.w = d.w AND cd.p = $p AND cd.l = $l"
        }.mkString("\n    UNION ALL\n")
        s"dp${r}_$p AS MATERIALIZED (\n  SELECT w, MIN(c) AS c FROM (\n$arms) GROUP BY w)"
      }
      val dpall = s"dpall$r AS MATERIALIZED (\n  " +
        (0 to mwl).map(p => s"SELECT w, $p AS p, c FROM dp${r}_$p")
          .mkString("\n  UNION ALL\n  ") + ")"
      val step =
        s"""step$r AS MATERIALIZED (
  SELECT c.w, c.p, CAST(MIN(c.l) AS INT) AS lstar
  FROM cand$r c
  JOIN dpall$r a ON a.w = c.w AND a.p = c.p - c.l
  JOIN dpall$r b ON b.w = c.w AND b.p = c.p
  WHERE a.c + c.cost = b.c
  GROUP BY c.w, c.p)"""
      val wk0 = s"wk${r}_0 AS MATERIALIZED (SELECT w, CAST(length(w) AS INT) AS pos FROM wrd)"
      val wks = (1 until mwl).map { k =>
        s"wk${r}_$k AS MATERIALIZED (SELECT k.w, k.pos - s.lstar AS pos" +
          s" FROM wk${r}_${k - 1} k JOIN step$r s ON s.w = k.w AND s.p = k.pos" +
          s" WHERE k.pos - s.lstar > 0)"
      }
      val visited = (0 until mwl).map(k => s"SELECT w, pos FROM wk${r}_$k")
        .mkString("\n    ", "\n    UNION ALL\n    ", "")
      val seg =
        s"""seg$r AS MATERIALIZED (
  SELECT u.w, substring(u.w, u.pos - s.lstar + 1, s.lstar) AS piece
  FROM ($visited) u
  JOIN step$r s ON s.w = u.w AND s.p = u.pos)"""
      (Seq(cand, dp0) ++ dps ++ Seq(dpall, step, wk0) ++ wks ++ Seq(seg))
        .mkString(",\n")
    }

  private final val wpMerges = 10; private final val wpMpl = 6

  private final val wpMwl = 16; private final val wpMinPair = 2

  private final val wpCharMin = 2

  /** Shared generator for the WordPiece train/apply oracles — mirrors
    * graft.text.WordPiece with nMerges=10, maxPieceLen=6, maxWordLen=16,
    * minPairCount=2, charMinCount=2 (the registry rows' parameters).
    *
    * Each merge round is one CTE block: tokenize the guard-string corpus,
    * corpus-mass-weighted unit and adjacent-pair histograms, the exact
    * fixed-point likelihood-gain argmax score_fp12 = c_ab·10¹² //
    * (c_a·c_b) in HUGEINT (ties (w1, w2) lexicographic — the engine's
    * orderBy), then the guard-string `replace` fusion with the winners as
    * SCALAR SUBQUERIES (COALESCE to a chr(1) sentinel that can never
    * match, so an exhausted round leaves the corpus unchanged — exactly
    * the engine's early stop, since every later round then re-derives the
    * same empty argmax). The apply is the greedy longest-match walk,
    * unrolled maxWordLen steps over a per-(word, position)
    * longest-vocab-match table; a position with no match sends the whole
    * word to ONE [UNK] piece (word-level UNK). All CTEs MATERIALIZED
    * (un-hinted chains inline exponentially). */
  private def wordpieceSql(applyMode: Boolean): String =
    if (!applyMode)
      s"""WITH
$wrdCte,
$wpModelCtes
SELECT merge_rank, w1, w2, pair_count, score_fp12 FROM wpmall
ORDER BY merge_rank"""
    else
      s"""WITH
$wrdCte,
$wpModelCtes,
$wpApplyCtes
SELECT t.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(b.np) AS BIGINT) AS n_pieces,
       CAST(SUM(b.unk) AS BIGINT) AS n_unk_words,
       CAST(SUM(b.np) * 1000 // count(*) AS BIGINT) AS pieces_per_word_permille
FROM (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents) t
JOIN wpres b USING (w)
WHERE length(t.w) > 0
GROUP BY t.id
ORDER BY doc_id"""

  /** Round-0 guard-string corpus, wpMerges merge rounds, the collected
    * merge table `wpmall`, and the apply vocabulary `wpvocab`. */
  private def wpModelCtes: String = {
    def mergeRound(r: Int): String =
      s"""wptk$r AS MATERIALIZED (
  SELECT w, c_w, string_split(substring(s, 2, length(s) - 2), ')(') AS tk FROM wpc${r - 1}),
wpu$r AS MATERIALIZED (
  SELECT unit, CAST(SUM(c_w) AS BIGINT) AS c
  FROM (SELECT c_w, unnest(tk) AS unit FROM wptk$r) GROUP BY unit),
wpp$r AS MATERIALIZED (
  SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(SUM(c_w) AS BIGINT) AS c_ab
  FROM (SELECT c_w, tk AS toks, unnest(range(1, len(tk))) AS i
        FROM wptk$r WHERE len(tk) >= 2)
  GROUP BY 1, 2
  HAVING length(w1) + length(w2) <= $wpMpl AND SUM(c_w) >= $wpMinPair),
wpm$r AS MATERIALIZED (
  SELECT p.w1, p.w2, p.c_ab,
         CAST(CAST(p.c_ab AS HUGEINT) * 1000000000000 //
              (CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS BIGINT) AS score_fp12
  FROM wpp$r p JOIN wpu$r a ON a.unit = p.w1 JOIN wpu$r b ON b.unit = p.w2
  ORDER BY score_fp12 DESC, p.w1, p.w2 LIMIT 1),
wpc$r AS MATERIALIZED (
  SELECT w, c_w,
         replace(s, '(' || COALESCE((SELECT w1 FROM wpm$r), chr(1)) || ')(' ||
                    COALESCE((SELECT w2 FROM wpm$r), chr(1)) || ')',
                 '(' || COALESCE((SELECT w1 FROM wpm$r), chr(1)) ||
                        COALESCE((SELECT w2 FROM wpm$r), chr(1)) || ')') AS s
  FROM wpc${r - 1})"""
    val mergesUnion = (1 to wpMerges)
      .map(r => s"  SELECT CAST($r AS BIGINT) AS merge_rank, w1, w2," +
        s" CAST(c_ab AS BIGINT) AS pair_count, score_fp12 FROM wpm$r")
      .mkString("\n  UNION ALL\n")
    s"""wpc0 AS MATERIALIZED (
  SELECT w, c_w,
         '(' || array_to_string(list_transform(range(1, length(w) + 1),
                  i -> substring(w, CAST(i AS INT), 1)), ')(') || ')' AS s
  FROM wrd),
${(1 to wpMerges).map(mergeRound).mkString(",\n")},
wpmall AS MATERIALIZED (
$mergesUnion),
wpvocab AS MATERIALIZED (
  SELECT unit AS piece FROM wpu1 WHERE c >= $wpCharMin
  UNION
  SELECT DISTINCT w1 || w2 AS piece FROM wpmall)"""
  }

  /** Longest-vocab-match table + the unrolled greedy walk → per-word
    * (np, unk) in `wpres`. */
  private def wpApplyCtes: String = {
    val steps = (1 to wpMwl).map { k =>
      s"""wpwk$k AS MATERIALIZED (
  SELECT k.w,
         CASE WHEN k.pos > length(k.w) THEN k.pos
              WHEN m.lmax IS NULL THEN CAST(length(k.w) + 1 AS INT)
              ELSE k.pos + m.lmax END AS pos,
         CASE WHEN k.pos > length(k.w) THEN k.np
              WHEN m.lmax IS NULL THEN CAST(1 AS BIGINT)
              ELSE k.np + 1 END AS np,
         CASE WHEN k.pos > length(k.w) THEN k.unk
              WHEN m.lmax IS NULL THEN CAST(1 AS BIGINT)
              ELSE k.unk END AS unk
  FROM wpwk${k - 1} k LEFT JOIN wplmax m ON m.w = k.w AND m.p = k.pos)"""
    }.mkString(",\n")
    s"""wplmax AS MATERIALIZED (
  SELECT wrd.w, CAST(p.p AS INT) AS p, CAST(MAX(l.l) AS INT) AS lmax
  FROM wrd, range(1, ${wpMwl + 1}) p(p), range(1, ${wpMpl + 1}) l(l)
  WHERE p.p <= length(wrd.w)
    AND l.l <= length(wrd.w) - p.p + 1
    AND substring(wrd.w, CAST(p.p AS INT), CAST(l.l AS INT)) IN (SELECT piece FROM wpvocab)
  GROUP BY wrd.w, p.p),
wpwk0 AS MATERIALIZED (
  SELECT w, CAST(1 AS INT) AS pos, CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS unk
  FROM wrd),
$steps,
wpres AS MATERIALIZED (SELECT w, np, unk FROM wpwk$wpMwl)"""
  }

  /** Three-family tokenizer comparison oracle: the unigram and WordPiece
    * CTE blocks verbatim (shared `wrd`), plus q_bpe_apply's 3-round
    * doc-level merge chain, reduced to per-family corpus totals. */
  private def tokenizerFamiliesSql: String =
    s"""WITH
$wrdCte,
$uniModelCtes,
$uniNpsCtes,
$wpModelCtes,
$wpApplyCtes,
${bpeMergesCte(carry = true)},
fam AS (
  SELECT 'bpe' AS family,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         CAST(SUM(len(string_split(substr(s, 2, length(s) - 2), ')('))) AS BIGINT) AS n_tokens
  FROM s3
  UNION ALL
  SELECT 'unigram' AS family,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(SUM(b.np) AS BIGINT) AS n_tokens
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  JOIN nps b USING (w)
  WHERE length(t.w) > 0
  UNION ALL
  SELECT 'wordpiece' AS family,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(SUM(b.np) AS BIGINT) AS n_tokens
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  JOIN wpres b USING (w)
  WHERE length(t.w) > 0)
SELECT family, n_words, n_tokens,
       CAST(n_tokens * 1000 // n_words AS BIGINT) AS fertility_permille
FROM fam ORDER BY family"""
}
