package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ArraySumFp, MultiPatternCount}

import SharedSpark._
import SharedSql._

/** Registered SQL functions and native kernels used through the SQL
  * surface. */
object FunctionsQueries extends Module("functions") {

  /** Blocklist / phrase-filter audit — the crawl-hygiene pass that
    * screens every document against a phrase blocklist and reports
    * per-source hit totals. The portable formulation is P chained
    * contains/replace passes (P full scans of every document; a real
    * blocklist is thousands of phrases); the
    * [[graft.functions.MultiPatternCount]] Aho-Corasick kernel matches
    * ALL patterns in ONE byte-level walk — O(len + matches) per document
    * regardless of blocklist size — and returns the per-pattern count
    * vector in row. Per-pattern corpus totals then flow through the
    * array_sum_fp elementwise aggregate (one d-length array per
    * (source, map task) crosses the exchange, never d× exploded rows).
    * Scan-linear into ONE group-by exchange on `source`; the oracle
    * recomputes each count portably as the replace-delta (equal to the
    * automaton's all-occurrence count because the phrases are
    * border-free, so occurrences cannot self-overlap). */
  private def qBlocklist(s: SparkSession, d: String): DataFrame = {
    val pats = Seq("scan query", "fast join", "table scan", "slow query", "big data")
    val total = pats.indices.map(i => element_at(col("c"), i + 1)).reduce(_ + _)
    t(s, d, "documents")
      .select(col("source"), MultiPatternCount(col("text"), pats).as("c"))
      .select(col("source"), col("c"), total.as("hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits")).as("total_hits"),
        array_join(ArraySumFp(col("c")).cast("array<string>"), ",")
          .as("pattern_totals_csv"))
      .orderBy(col("source"))
  }
  // Blocklist audit: each pattern count recomputed portably as the
  // replace-delta — equal to the Aho-Corasick all-occurrence count
  // because the phrases are border-free (occurrences cannot
  // self-overlap).
  query("q_blocklist", qBlocklist,
    """WITH c AS (
      |  SELECT source,
      |         (length(text) - length(replace(text, 'scan query', ''))) // 10 AS c1,
      |         (length(text) - length(replace(text, 'fast join', ''))) // 9 AS c2,
      |         (length(text) - length(replace(text, 'table scan', ''))) // 10 AS c3,
      |         (length(text) - length(replace(text, 'slow query', ''))) // 10 AS c4,
      |         (length(text) - length(replace(text, 'big data', ''))) // 8 AS c5
      |  FROM documents)
      |SELECT source,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN c1 + c2 + c3 + c4 + c5 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |       CAST(sum(c1 + c2 + c3 + c4 + c5) AS BIGINT) AS total_hits,
      |       CAST(CAST(sum(c1) AS BIGINT) AS VARCHAR) || ',' ||
      |       CAST(CAST(sum(c2) AS BIGINT) AS VARCHAR) || ',' ||
      |       CAST(CAST(sum(c3) AS BIGINT) AS VARCHAR) || ',' ||
      |       CAST(CAST(sum(c4) AS BIGINT) AS VARCHAR) || ',' ||
      |       CAST(CAST(sum(c5) AS BIGINT) AS VARCHAR) AS pattern_totals_csv
      |FROM c GROUP BY source ORDER BY source""".stripMargin)

  /** The SQL surface of the REGISTERED native kernels (GraftExtensions:
    * shingle_array, sorted_intersect_count, dot_fp, fixed_point,
    * quantize_int8, simhash_fp, minhash_sigs_fp, multi_pattern_count,
    * and the array_sum_fp aggregate) —
    * result transparency for the extension registry itself: the oracle
    * recomputes every output from portable SQL (sorted-distinct n-gram
    * strings, list intersection counts, fixed-point dots, the proven
    * quantizer formula, token-vote simhash bits, double-hash minhash
    * minima, grouped elementwise vector sums), so a registration or
    * kernel regression hash-mismatches. Adjacent-id pairs keep it one
    * broadcastable join per table; the aggregate groups 49 vectors into
    * 5 residue classes. */
  private def qSqlKernels(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents").createOrReplaceTempView("documents")
    t(s, d, "embeddings").createOrReplaceTempView("embeddings")
    s.sql("""
      WITH pair AS (
        SELECT a.doc_id, a.text AS ta, b.text AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id < 50),
      emb AS (
        SELECT ea.vec_id,
               fixed_point(ea.embedding) AS fa,
               fixed_point(eb.embedding) AS fb,
               quantize_int8(ea.embedding) AS qa
        FROM embeddings ea JOIN embeddings eb ON eb.vec_id = ea.vec_id + 1
        WHERE ea.vec_id < 50),
      gs AS (
        SELECT vec_id % 5 AS g,
               array_sum_fp(transform(embedding, x -> cast(round(cast(x AS double) * 1000000) AS bigint))) AS s
        FROM embeddings WHERE vec_id < 50 GROUP BY vec_id % 5)
      SELECT p.doc_id,
             size(shingle_array(p.ta, 3)) AS n_shingles,
             sorted_intersect_count(shingle_array(p.ta, 3), shingle_array(p.tb, 3)) AS n_common,
             dot_fp(e.fa, e.fb) AS dot,
             array_join(e.qa.codes, ',') AS codes_csv,
             simhash_fp(p.ta) AS simhash,
             array_join(transform(minhash_sigs_fp(shingle_array(p.ta, 3), 4),
                                  x -> cast(x AS string)), ',') AS sigs_csv,
             array_join(transform(multi_pattern_count(p.ta, 'scan query', 'big data'),
                                  x -> cast(x AS string)), ',') AS mpc_csv,
             array_join(transform(gs.s, x -> cast(x AS string)), ',') AS gsum_csv
      FROM pair p
      JOIN emb e ON e.vec_id = p.doc_id
      JOIN gs ON gs.g = p.doc_id % 5
      ORDER BY p.doc_id""")
  }
  // SQL-registered kernel surface: every native function's output
  // recomputed from portable SQL — shingle_array = sorted distinct
  // n-gram strings, sorted_intersect_count = |set intersection|,
  // dot_fp = fixed-point list dot, quantize_int8 = the q_quantize_embed
  // formula (proven engine-equal there), CSV-joined.
  query("q_sql_kernels", qSqlKernels, {
    def sh(t: String) =
      s"""list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(string_split($t, ' ')) - 1, 1)),
         |    i -> array_to_string(list_slice(string_split($t, ' '), i, i + 2), ' '))))""".stripMargin
    val sigs = (1 to 4).map(i => s"min(h1 + $i * h2) AS sig_$i").mkString(", ")
    val sigsCsv = (1 to 4).map(i => s"CAST(sig_$i AS VARCHAR)").mkString("concat_ws(',', ", ", ", ")")
    s"""WITH $shinglesCte,
       |$simhashCte,
       |pair AS (
       |  SELECT a.doc_id, a.text AS ta, ${sh("a.text")} AS sa, ${sh("b.text")} AS sb
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id < 50),
       |emb AS (
       |  SELECT ea.vec_id,
       |         list_transform(ea.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fa,
       |         list_transform(eb.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fb,
       |         CAST(list_min(ea.embedding) AS DOUBLE) AS mn,
       |         CAST(list_max(ea.embedding) AS DOUBLE) AS mx,
       |         ea.embedding AS va
       |  FROM embeddings ea JOIN embeddings eb ON eb.vec_id = ea.vec_id + 1
       |  WHERE ea.vec_id < 50),
       |sigs AS (
       |  SELECT id, $sigsCsv AS sigs_csv FROM (
       |    SELECT id,
       |           $sigs
       |    FROM (SELECT id,
       |                 CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |                 CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |          FROM sh WHERE id < 50) GROUP BY id)),
       |gse AS (
       |  SELECT vec_id % 5 AS g, unnest(fv) AS v, unnest(range(1, len(fv) + 1)) AS pos
       |  FROM (SELECT vec_id,
       |               list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
       |        FROM embeddings WHERE vec_id < 50)),
       |gs AS (
       |  SELECT g, array_to_string(list(CAST(s AS VARCHAR) ORDER BY pos), ',') AS gsum_csv FROM (
       |    SELECT g, pos, CAST(sum(v) AS BIGINT) AS s FROM gse GROUP BY g, pos)
       |  GROUP BY g)
       |SELECT p.doc_id,
       |       CAST(len(p.sa) AS INTEGER) AS n_shingles,
       |       CAST(len(list_intersect(p.sa, p.sb)) AS BIGINT) AS n_common,
       |       CAST(list_sum(list_transform(range(1, len(e.fa) + 1),
       |              i -> e.fa[i] * e.fb[i])) AS BIGINT) AS dot,
       |       array_to_string(list_transform(range(1, len(e.va) + 1),
       |         i -> CAST(CASE WHEN e.mx = e.mn THEN 0
       |                        ELSE round((CAST(e.va[i] AS DOUBLE) - e.mn) * 255.0 / (e.mx - e.mn))
       |                   END AS INTEGER)), ',') AS codes_csv,
       |       sh16.simhash AS simhash,
       |       sigs.sigs_csv AS sigs_csv,
       |       CAST((length(p.ta) - length(replace(p.ta, 'scan query', ''))) // 10 AS VARCHAR)
       |         || ',' ||
       |       CAST((length(p.ta) - length(replace(p.ta, 'big data', ''))) // 8 AS VARCHAR) AS mpc_csv,
       |       gs.gsum_csv AS gsum_csv
       |FROM pair p
       |JOIN emb e ON e.vec_id = p.doc_id
       |JOIN sh16 ON sh16.id = p.doc_id
       |JOIN sigs ON sigs.id = p.doc_id
       |JOIN gs ON gs.g = p.doc_id % 5
       |ORDER BY p.doc_id""".stripMargin
  })

  /** Count-min sketch build + probe over event actor frequencies: the
    * d×w counter table is the whole state (one map-combining exchange,
    * fixed size at any corpus scale, merges by SUM), probes touch only
    * the sketch. Estimates verified one-sided against the exact counts:
    * n_est >= n_exact always, and equality where no bucket collision
    * lands. */
  private def qCmsFreq(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val sk = ops.CountMin.build(ev, col("user_id"), depth = 4, width = 512)
    val probes = ev.filter(col("user_id") <= 25).select(col("user_id")).distinct()
    val exact = ev.filter(col("user_id") <= 25)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    ops.CountMin.estimate(probes, col("user_id"), sk, depth = 4, width = 512)
      .select(col("k").cast("long").as("user_id"), col("n_est"))
      .join(exact, Seq("user_id"))
      .select(col("user_id"), col("n_exact"), col("n_est"))
      .orderBy(col("user_id"))
  }
  // Count-min sketch: bucket_j(key) = 60-bit md5 prefix of "j:key"
  // mod width — integer end to end; the estimate is min over the d
  // counter rows. Mirrors CountMin.build/estimate exactly.
  query("q_cms_freq", qCmsFreq,
    """WITH ds AS (SELECT unnest(range(4)) AS depth),
      |h AS (
      |  SELECT d.depth,
      |         CAST(concat('0x', substring(md5(concat(CAST(d.depth AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS bucket
      |  FROM events e, ds d),
      |counters AS (SELECT depth, bucket, count(*) AS c FROM h GROUP BY 1, 2),
      |probe AS (SELECT DISTINCT user_id FROM events WHERE user_id <= 25),
      |pb AS (
      |  SELECT p.user_id, d.depth,
      |         CAST(concat('0x', substring(md5(concat(CAST(d.depth AS VARCHAR), ':', CAST(p.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS bucket
      |  FROM probe p, ds d),
      |est AS (
      |  SELECT pb.user_id, min(coalesce(c.c, 0)) AS n_est
      |  FROM pb LEFT JOIN counters c USING (depth, bucket)
      |  GROUP BY 1),
      |ex AS (SELECT user_id, count(*) AS n_exact FROM events
      |       WHERE user_id <= 25 GROUP BY 1)
      |SELECT ex.user_id, ex.n_exact, est.n_est
      |FROM ex JOIN est USING (user_id)
      |ORDER BY user_id""".stripMargin)
}
