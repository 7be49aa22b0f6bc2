package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps
import graft.dedup.Dedup
import graft.similarity.Vectors

import SharedSpark._
import SharedSql._

/** Exact and near-duplicate detection over `documents`: fingerprints,
  * shingles, MinHash-LSH, simhash, clustering and incremental dedup. */
object DedupQueries extends Module("dedup") {

  private val shingleCountsCte =
    "counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)"

  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(t(s, d, "documents"), "doc_id", "text").orderBy(col("keep_id"))
  query("q_dedup_exact", qDedupExact,
    s"""SELECT $fpExpr AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)

  /** Exact-substring duplication spans at 5-gram grain (Lee et al.
    * substring dedup, shingle form — see dedup.Dedup.dupNgramSpans):
    * per-doc duplicated-gram count, maximal merged spans, and exact
    * union token coverage. k=5 on this corpus separates the inserted
    * duplicate passages from chance trigram collisions. */
  private def qDupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupNgramSpans(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", k = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  // The oracle groups duplicated 5-grams by their STRING content where
  // the engine groups by xxhash64 of the same string — identical
  // equivalence classes modulo 64-bit collisions (none on this corpus,
  // vanishing at 2^-64/pair in general).
  query("q_dup_spans", qDupSpans,
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest(range(1, len(toks) - 5 + 2)) AS p, toks
      |      FROM t WHERE len(toks) >= 5),
      |gr AS (SELECT doc_id, p,
      |              array_to_string(list_slice(toks, p, p + 4), ' ') AS gram
      |       FROM g),
      |d AS (SELECT doc_id, p, count(*) OVER (PARTITION BY gram) AS n_occ FROM gr),
      |m AS (SELECT doc_id, p,
      |             lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt,
      |             lag(p)  OVER (PARTITION BY doc_id ORDER BY p) AS prv
      |      FROM d WHERE n_occ > 1),
      |a AS (SELECT doc_id,
      |             count(*) AS n_dup_grams,
      |             sum(CASE WHEN prv IS NULL OR p - prv > 5 THEN 1 ELSE 0 END) AS n_spans,
      |             sum(CASE WHEN nxt IS NULL THEN 5 ELSE least(5, nxt - p) END) AS dup_tokens
      |      FROM m GROUP BY doc_id)
      |SELECT a.doc_id,
      |       CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
      |       CAST(n_spans AS BIGINT) AS n_spans,
      |       CAST(dup_tokens AS BIGINT) AS dup_tokens,
      |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |       CAST(dup_tokens AS DOUBLE) / len(t.toks) AS dup_frac
      |FROM a JOIN t ON a.doc_id = t.doc_id
      |ORDER BY a.doc_id""".stripMargin)

  /** END-TO-END corpus preparation — the composition a training-data
    * team ships: near-dup dedup survivors (the q_dedup_clusters resolution)
    * → Gopher-rules quality filter → deterministic hash split,
    * emitted as the final manifest (doc_id, n_tokens, split).
    * Every stage is an already-verified operator; this row puts the
    * COMPOSITION itself under the gate (the oracle recomputes all three
    * stages, recursive-CTE clusters included). */
  private def qCorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.simhashClusters(simhashShared(s, d), maxDist = 1)
    val drop = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    // The Gopher predicate is a heavy scan-side expression and Catalyst
    // pushes filters through Repartition — written naively it lands on
    // the single-row-group documents scan and the whole regex/token chain
    // runs as ONE task (measured: a 1-task, ~4.5 s CPU-bound stage that
    // dominated this query's cold pass; a spread() alone cannot shield a
    // FILTER the way it shields heavy projections). Materializing the
    // (cheap to build) survivor set behind an explicitly-widened persist
    // is the pushdown barrier: the quality pass then evaluates above the
    // InMemoryRelation, parallel across its pinned partitions — the same
    // shape as running quality scoring over a materialized post-dedup
    // corpus table at 100 TB.
    val survivors = graft.Caches.track(
      spread(t(s, d, "documents").join(drop, Seq("doc_id"), "left_anti"),
        "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val kept = survivors.filter(
      TextOps.gopherReason(col("text"), TextOps.Stopwords.toMap.apply("en")).isNull)
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    val pct = pmod(h, lit(100L))
    kept.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
        when(pct < 80, "train").when(pct < 90, "valid").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }
  // The full prep pipeline: dedup survivors (recursive-CTE clusters,
  // the q_dedup_apply machinery) → quality keep (q_quality_filter's
  // rule chain) → hash split (q_train_test_split's percentile).
  query("q_corpus_pipeline", qCorpusPipeline, {
    val chunks = Seq((0, 1, 8), (1, 9, 8))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 1),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |surv AS (SELECT d.doc_id, d.text FROM documents d
       |         WHERE NOT EXISTS (SELECT 1 FROM cl
       |                           WHERE cl.id = d.doc_id AND cl.cluster_id <> d.doc_id)),
       |m AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM surv),
       |q AS (SELECT doc_id, len(toks) AS n_tokens,
       |             CASE WHEN len(toks) < 20 THEN 'too_short'
       |                  WHEN len(toks) > 1000 THEN 'too_long'
       |                  WHEN (CASE WHEN length(text) > 0
       |                        THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |                        ELSE 0.0 END) > 0.2 THEN 'punct_soup'
       |                  WHEN len(toks) >= 2 AND
       |                       CAST(list_max(list_transform(
       |                         list_distinct(list_transform(range(1, len(toks)),
       |                           i -> array_to_string(list_slice(toks, i, i + 1), ' '))),
       |                         x -> len(list_filter(list_transform(range(1, len(toks)),
       |                           i -> array_to_string(list_slice(toks, i, i + 1), ' ')),
       |                           y -> y = x)))) AS DOUBLE)
       |                         / len(list_transform(range(1, len(toks)),
       |                             i -> array_to_string(list_slice(toks, i, i + 1), ' '))) > 0.08
       |                       THEN 'repetition'
       |                  WHEN ${vocabHits(stop("en"))} = 0 THEN 'no_stopwords'
       |             END AS reason
       |      FROM m)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |       CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
       |            WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM q WHERE reason IS NULL ORDER BY doc_id""".stripMargin
  })

  /** Incremental ingest dedup (see Dedup.incrementalExact): a replayed
    * batch — genuinely new docs (doc_id%10=0) plus re-keyed copies of
    * every doc_id%7=0 doc — admitted against the base corpus's
    * fingerprint store. Copies of BASE docs fall to the anti join;
    * copies of BATCH docs fall to the within-batch dedup (survivor =
    * min id, batch_dups = 2 — both paths execute under the gate). */
  private def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val replay = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).unionByName(replay)
    Dedup.incrementalExact(batch,
        Dedup.fingerprintStore(base, "doc_id", "text"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }
  query("q_incremental_dedup", qIncrementalDedup,
    s"""WITH f AS (SELECT doc_id, $fpExpr AS fp FROM documents),
       |base AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
       |batch AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 = 0
       |          UNION ALL
       |          SELECT doc_id + 10000, fp FROM f WHERE doc_id % 7 = 0),
       |novel AS (SELECT * FROM batch
       |          WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.fp = batch.fp))
       |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp,
       |       CAST(count(*) AS BIGINT) AS batch_dups
       |FROM novel GROUP BY fp ORDER BY doc_id""".stripMargin)

  /** Both simhash queries persist this identical plan, so the signature
    * table materializes ONCE per session (CacheManager dedupes identical
    * plans) — the in-session analogue of materializing the corpus
    * signature table that every simhash consumer reads at 100 TB.
    * Registered with [[graft.Caches]] so `Caches.release()` frees it. */
  private def simhashShared(s: SparkSession, d: String): DataFrame =
    graft.Caches.materialize(
      Dedup.simhash(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def qSimhash(s: SparkSession, d: String): DataFrame =
    simhashShared(s, d)
      .select(col("id").as("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))
  query("q_simhash", qSimhash,
    s"""WITH $simhashCte
       |SELECT id AS doc_id, simhash FROM sh16 ORDER BY doc_id""".stripMargin)

  /** SimHash-clustered dedup in aggregate shape: one row per 16-bit hash
    * with the surviving id — O(clusters) output regardless of how large
    * the near-dup clusters are (the all-PAIRS operator
    * Dedup.simhashNearDupPairs exists for spot mining but its output is
    * quadratic in cluster size — wrong shape for a corpus-wide pass). */
  private def qSimhashDedup(s: SparkSession, d: String): DataFrame =
    simhashShared(s, d)
      .groupBy(col("simhash"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("keep_id"))
  query("q_simhash_dedup", qSimhashDedup,
    s"""WITH $simhashCte
       |SELECT simhash, min(id) AS keep_id, count(*) AS dup_count
       |FROM sh16 GROUP BY simhash ORDER BY keep_id""".stripMargin)

  /** SimHash near-dup PAIRS over the shared persisted signature table:
    * pigeonhole chunk banding + streaming bucket equi-self-join + exact
    * XOR/popcount Hamming verify (Dedup.simhashNearDupPairsFromSigs).
    * maxDist = 2 → 3 chunks of 6/5/5 bits. */
  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDupPairsFromSigs(simhashShared(s, d), maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))
  query("q_simhash_pairs", qSimhashPairs, {
    // chunk layout mirrors Dedup.chunkBounds(16, 3) = (1,6),(7,5),(12,5);
    // '0b…' binary-literal CAST turns the portable 0/1 hash string into
    // the integer whose XOR popcount is the Hamming distance
    val chunks = Seq((0, 1, 6), (1, 7, 5), (2, 12, 5))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks)
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |       CAST(bit_count(xor(a.v, b.v)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |WHERE bit_count(xor(a.v, b.v)) <= 2
       |ORDER BY id_a, id_b""".stripMargin
  })

  /** PRODUCTION 64-bit SimHash near-dup pairs: SimHash64Fp narrow
    * signature map → auto-sized pigeonhole bands
    * (Dedup.simhash64BandWidth: clamp(⌈log₂ n⌉, 14, 64/(maxDist+1)))
    * → bucket equi-self-join → exact hi/lo XOR-popcount Hamming verify.
    * maxDist = 3 (Manku/Jain/Sarma WWW'07's operating radius) → the
    * 500-doc gate corpus sizes to width 14 = 5 chunks of 13/13/13/13/12
    * bits, and a 2¹⁴⁺-doc corpus widens itself, keeping in-bucket
    * candidates ~linear by construction rather than by corpus size. */
  private def qSimhash64Pairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhash64NearDupPairsFromSigs(
      Dedup.simhash64(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text"),
      maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  query("q_simhash64_pairs", qSimhash64Pairs, {
    // 64-bit signature (mirrors functions.SimHash64Fp): vote for bit j
    // (1-based, MSB-first) is bit (3 − (j−1)%4) of md5 hex digit
    // ⌈j/4⌉. Banding mirrors Dedup.simhash64BandWidth(500, 3) = 14 →
    // chunkBounds(64, 5) = (1,13),(14,13),(27,13),(40,13),(53,12);
    // Hamming runs on hi/lo 32-bit halves (a sign-bit-set 64-bit value
    // does not survive a decimal round-trip).
    val bitSums = (1 to 64).map { j =>
      val digit = (j - 1) / 4 + 1
      val bit = 3 - ((j - 1) % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, $digit, 1)) - 1) >> $bit) & 1 = 1 THEN 1 ELSE -1 END) AS b_$j"
    }.mkString(",\n         ")
    val bitChars = (1 to 64)
      .map(j => s"CASE WHEN b_$j > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    val chunks = Seq((0, 1, 13), (1, 14, 13), (2, 27, 13), (3, 40, 13), (4, 53, 12))
      .map { case (i, start, len) =>
        s"SELECT id, hi, lo, $i AS chunk, substring(simhash, $start, $len) AS bits FROM hl" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT doc_id AS id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |s AS (
       |  SELECT id,
       |         $bitSums
       |  FROM e GROUP BY id),
       |sh64 AS (SELECT id, $bitChars AS simhash FROM s),
       |hl AS (
       |  SELECT id, simhash,
       |         CAST(concat('0b', substring(simhash, 1, 32)) AS BIGINT) AS hi,
       |         CAST(concat('0b', substring(simhash, 33, 32)) AS BIGINT) AS lo
       |  FROM sh64),
       |chunks AS (
       |  $chunks)
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  })

  /** Near-dup CLUSTER resolution: connected components over the simhash
    * Hamming ≤ 1 graph (off the shared signature table) — one (doc_id,
    * cluster_id) row per doc in a ≥2-doc component, cluster_id = the
    * component's min doc_id. Identical signatures contract to one graph
    * node before the min-label iteration (Dedup.simhashClusters), so the
    * iterated graph is the distinct-signature graph, not the corpus. */
  private def qDedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.simhashClusters(simhashShared(s, d), maxDist = 1)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  query("q_dedup_clusters", qDedupClusters, {
    // chunk layout mirrors Dedup.chunkBounds(16, 2) = (1,8),(9,8);
    // transitive closure via a recursive CTE (UNION dedups → fixpoint),
    // component id = min reachable node over the undirected edge set
    val chunks = Seq((0, 1, 8), (1, 9, 8))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 1),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin
  })

  /** End-to-end dedup APPLY — the write-the-clean-corpus step: drop every
    * doc that belongs to a near-dup cluster but is not its minimum (the
    * survivor), keep everything else. Composes the cluster resolution
    * with one left-anti join against the (tiny) drop list; at scale this
    * is the final pass that materializes the deduplicated training
    * corpus. */
  private def qDedupApply(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.simhashClusters(simhashShared(s, d), maxDist = 1)
    val drop = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    t(s, d, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }
  // same cluster CTEs as q_dedup_clusters; apply = keep docs that are
  // not a non-minimum member of any cluster
  query("q_dedup_apply", qDedupApply, {
    val chunks = Seq((0, 1, 8), (1, 9, 8))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 1),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM cl
       |                  WHERE cl.id = d.doc_id AND cl.cluster_id <> d.doc_id)
       |ORDER BY d.doc_id""".stripMargin
  })

  /** Eval-set decontamination: corpus docs (doc_id % 50 ≠ 0) sharing any
    * word trigram with the "benchmark" slice (doc_id % 50 = 0), with the
    * distinct shared-gram count. Benchmark grams broadcast — the corpus
    * side never shuffles (Dedup.contamination). */
  private def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Dedup.contamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }
  query("q_contamination", qContamination,
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 50 = 0)
       |SELECT c.id AS doc_id, count(*) AS n_shared
       |FROM sh c JOIN bench b ON c.shingle = b.shingle
       |WHERE c.id % 50 <> 0
       |GROUP BY c.id
       |ORDER BY doc_id""".stripMargin)

  private def qNgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text", n = 3, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  query("q_ngram_jaccard", qNgramJaccard,
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2)
       |${jaccardSelect(0.8)}""".stripMargin)

  /** Sorted-neighborhood blocking dedup (see Dedup
    * .sortedNeighborhoodPairs): two-pass merge/purge (normalized prefix,
    * reversed-prefix), window 5, exact-Jaccard verify at 0.8 — the
    * skew-proof (exactly n·window·2 candidates) member of the blocking
    * ensemble next to LSH and PPJoin. */
  private def qSortedBlocking(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(spread(t(s, d, "documents"), "doc_id"),
      "doc_id", "text", n = 3, window = 5, prefixLen = 12, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  // Sorted-neighborhood blocking: two global ranks (normalized-prefix
  // key, reversed-prefix key; ties broken by doc_id — mirrors the
  // engine's range-partitioned exact rank), rank-window candidates
  // (y.r in (x.r, x.r + 5]), cross-pass dedup, exact-Jaccard verify.
  query("q_sorted_blocking", qSortedBlocking, {
    val normE = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[[:cntrl:]]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |nrm AS (SELECT doc_id, $normE AS nt FROM documents
       |        WHERE doc_id IN (SELECT id FROM sh)),
       |r1 AS (SELECT doc_id, row_number() OVER (
       |          ORDER BY substring(nt, 1, 12), doc_id) AS r FROM nrm),
       |r2 AS (SELECT doc_id, row_number() OVER (
       |          ORDER BY substring(reverse(nt), 1, 12), doc_id) AS r FROM nrm),
       |cand AS (
       |  SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
       |  FROM (
       |    SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |    FROM r1 x JOIN r1 y ON y.r > x.r AND y.r <= x.r + 5
       |    UNION ALL
       |    SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |    FROM r2 x JOIN r2 y ON y.r > x.r AND y.r <= x.r + 5)),
       |inter AS (
       |  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.id = cand.id_a
       |  JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |${jaccardSelect(0.8)}""".stripMargin
  })

  private def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b"))
  query("q_minhash_lsh", qMinhashLsh, {
    // double-hash permutations: one md5 per shingle, 60-bit halves
    val sigs = (1 to 6)
      .map(i => s"min(h1 + $i * h2) AS sig_$i")
      .mkString(",\n         ")
    val bands = (0 until 3)
      .map(b => s"SELECT id, $b AS band, concat_ws('|', CAST(sig_${2 * b + 1} AS VARCHAR), CAST(sig_${2 * b + 2} AS VARCHAR)) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |sigs AS (
       |  SELECT id,
       |         $sigs
       |  FROM (SELECT id,
       |               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |               CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |        FROM sh) GROUP BY id),
       |buckets AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |inter AS (
       |  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.id = cand.id_a
       |  JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |${jaccardSelect(0.7)}""".stripMargin
  })

  /** MinHash estimator calibration (see
    * Dedup.minhashCalibration): per match-count bucket, the exact
    * true-Jaccard statistics of the LSH candidate pairs — the
    * sketch-accuracy readout behind choosing k. Same (n=3, k=6,
    * rowsPerBand=2) knobs as the dedup family, so the persisted
    * set/bucket artifacts are shared within an epoch. */
  private def qMinhashCalibration(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCalibration(spread(t(s, d, "documents"), "doc_id"),
        "doc_id", "text", n = 3, k = 6, rowsPerBand = 2)
      .orderBy(col("n_matches"))
  // MinHash estimator calibration: per match-count bucket the exact
  // true-Jaccard mean/min/max permille over the candidate pairs.
  query("q_minhash_calibration", qMinhashCalibration, {
    val sigs = (1 to 6)
      .map(i => s"min(h1 + $i * h2) AS sig_$i")
      .mkString(",\n         ")
    val bands = (0 until 3)
      .map(b => s"SELECT id, $b AS band, concat_ws('|', CAST(sig_${2 * b + 1} AS VARCHAR), CAST(sig_${2 * b + 2} AS VARCHAR)) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    val matches = (1 to 6)
      .map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |sigs AS (
       |  SELECT id,
       |         $sigs
       |  FROM (SELECT id,
       |               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |               CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |        FROM sh) GROUP BY id),
       |buckets AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |m AS (
       |  SELECT cand.id_a, cand.id_b, CAST($matches AS INTEGER) AS n_matches
       |  FROM cand JOIN sigs a ON a.id = cand.id_a
       |            JOIN sigs b ON b.id = cand.id_b),
       |inter AS (
       |  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.id = cand.id_a
       |  JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pj AS (
       |  SELECT m.n_matches,
       |         CAST((1000 * COALESCE(i.n_inter, 0))
       |              // (ca.n_sh + cb.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
       |           AS jp
       |  FROM m
       |  LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b
       |  JOIN counts ca ON ca.id = m.id_a
       |  JOIN counts cb ON cb.id = m.id_b)
       |SELECT n_matches, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(jp) // count(*) AS BIGINT) AS mean_true_permille,
       |       CAST(min(jp) AS BIGINT) AS min_true_permille,
       |       CAST(max(jp) AS BIGINT) AS max_true_permille
       |FROM pj GROUP BY 1 ORDER BY n_matches""".stripMargin
  })

  /** Dedup ENSEMBLE audit — the method-overlap study a production
    * pipeline runs before choosing its dedup stack: every non-canonical
    * document flagged by any of the three text methods (exact
    * fingerprint, MinHash-LSH Jaccard ≥ 0.7, SimHash Hamming ≤ 2) with
    * a method bitmask (1|2|4), so "what does simhash catch that
    * minhash misses" is one GROUP BY away. Each method contributes its
    * already-audited plan; the merge is a 3-way union of (doc, bit)
    * rows into ONE hash aggregate — flag volume is dup-bounded, never
    * corpus-bounded. */
  private def qDedupEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val fp = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    val exactDup = fp
      .join(fp.groupBy(col("fp")).agg(min(col("doc_id")).as("keep")), Seq("fp"))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"), lit(1L).as("bit"))
    val minhashDup = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 6, rowsPerBand = 2, threshold = 0.7)
      .select(col("id_b").as("doc_id")).distinct()
      .select(col("doc_id"), lit(2L).as("bit"))
    val simhashDup = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 2)
      .select(col("id_b").as("doc_id")).distinct()
      .select(col("doc_id"), lit(4L).as("bit"))
    exactDup.union(minhashDup).union(simhashDup)
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("method_mask"), count(lit(1)).as("n_methods"))
      .orderBy(col("doc_id"))
  }
  // Dedup ensemble: the three text-method dup sets (exact fingerprint,
  // minhash jaccard >= 0.7, simhash hamming <= 2) rebuilt from their
  // own oracle CTEs, merged as (doc, bit) rows into one aggregate.
  query("q_dedup_ensemble", qDedupEnsemble, {
    val sigs = (1 to 6)
      .map(i => s"min(h1 + $i * h2) AS sig_$i")
      .mkString(",\n         ")
    val bands = (0 until 3)
      .map(b => s"SELECT id, $b AS band, concat_ws('|', CAST(sig_${2 * b + 1} AS VARCHAR), CAST(sig_${2 * b + 2} AS VARCHAR)) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    val chunks = Seq((0, 1, 6), (1, 7, 5), (2, 12, 5))
      .map { case (i, start, len) =>
        s"SELECT id, v2, $i AS chunk, substring(simhash, $start, $len) AS bits FROM vv" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |sigs AS (
       |  SELECT id,
       |         $sigs
       |  FROM (SELECT id,
       |               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |               CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |        FROM sh) GROUP BY id),
       |buckets AS (
       |  $bands),
       |mcand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |minter AS (
       |  SELECT mcand.id_a, mcand.id_b, count(*) AS n_inter
       |  FROM mcand
       |  JOIN sh sa ON sa.id = mcand.id_a
       |  JOIN sh sb ON sb.id = mcand.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |mj AS (
       |  SELECT id_a, id_b FROM minter
       |  JOIN counts ca ON ca.id = id_a
       |  JOIN counts cb ON cb.id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.7),
       |$simhashCte,
       |vv AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v2 FROM sh16),
       |chunks AS (
       |  $chunks),
       |sp AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v2, b.v2)) <= 2),
       |fpg AS (SELECT doc_id, $fpExpr AS fp FROM documents),
       |fk AS (SELECT fp, min(doc_id) AS keep FROM fpg GROUP BY 1),
       |ex AS (SELECT fpg.doc_id, 1 AS bit FROM fpg JOIN fk USING (fp)
       |       WHERE doc_id <> keep),
       |mh AS (SELECT DISTINCT id_b AS doc_id, 2 AS bit FROM mj),
       |shd AS (SELECT DISTINCT id_b AS doc_id, 4 AS bit FROM sp),
       |u AS (SELECT * FROM ex UNION ALL SELECT * FROM mh
       |      UNION ALL SELECT * FROM shd)
       |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS method_mask,
       |       CAST(count(*) AS BIGINT) AS n_methods
       |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin
  })

  /** Banding-quality evaluation — the (k, rowsPerBand) knob study every
    * MinHash deployment runs before committing band parameters at
    * corpus scale: raw LSH banding candidates (distinct, BEFORE exact
    * verification) scored against exact-Jaccard ≥ τ truth (PPJoin —
    * prefix filtering is lossless, so truth is the full all-pairs
    * answer). One summary row: candidate precision (how much verify
    * work the bands waste) and recall (which true pairs the bands can
    * NEVER recover — the unfixable loss). Integer permille via `div`,
    * engine-exact. All three counters come out of ONE full-outer join of
    * the two (tiny, dup-bounded) pair tables — each expensive subtree
    * (PPJoin truth, banding candidates) is evaluated exactly once,
    * instead of once per counter. */
  private def qDedupEval(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
    val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2).distinct()
      .select(col("id_a"), col("id_b"), lit(1L).as("c"))
    cand.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("t")).as("n_truth"), count(col("c")).as("n_cand"),
        count(when(col("t").isNotNull && col("c").isNotNull, lit(1))).as("n_tp"))
      .select(col("n_truth"), col("n_cand"), col("n_tp"),
        expr("n_tp * 1000 div n_cand").as("precision_permille"),
        expr("n_tp * 1000 div n_truth").as("recall_permille"))
  }
  // Banding-quality eval: q_minhash_lsh's sigs/buckets CTEs generate
  // the DISTINCT candidate set; truth = the full quadratic
  // exact-Jaccard >= 0.7 pairs; integer-permille precision/recall.
  query("q_dedup_eval", qDedupEval, {
    val sigs = (1 to 6)
      .map(i => s"min(h1 + $i * h2) AS sig_$i")
      .mkString(",\n         ")
    val bands = (0 until 3)
      .map(b => s"SELECT id, $b AS band, concat_ws('|', CAST(sig_${2 * b + 1} AS VARCHAR), CAST(sig_${2 * b + 2} AS VARCHAR)) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |sigs AS (
       |  SELECT id,
       |         $sigs
       |  FROM (SELECT id,
       |               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |               CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |        FROM sh) GROUP BY id),
       |buckets AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN counts ca ON ca.id = id_a
       |  JOIN counts cb ON cb.id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.7),
       |tp AS (SELECT 1 FROM cand JOIN truth USING (id_a, id_b)),
       |s AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
       |             (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp)
       |SELECT n_truth, n_cand, n_tp,
       |       CAST(n_tp * 1000 // n_cand AS BIGINT) AS precision_permille,
       |       CAST(n_tp * 1000 // n_truth AS BIGINT) AS recall_permille
       |FROM s""".stripMargin
  })

  /** Incremental near-dup admission: the day's batch (doc_id%10==0)
    * screened against the standing corpus — O(batch) signatures join
    * the store's banded buckets, exact verify, so a daily ingest never
    * re-pairs the historical corpus against itself. */
  private def qIncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    Dedup.incrementalMinhashNearDup(
      docs.filter(pmod(col("doc_id"), lit(10L)) === 0),
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
      "doc_id", "text", n = 3, k = 6, rowsPerBand = 2, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }
  // Incremental near-dup: same sigs/banding CTEs, but candidates are
  // batch (id%10==0) × store (id%10<>0) only; exact-Jaccard verify.
  query("q_incremental_neardup", qIncrementalNearDup, {
    val sigs = (1 to 6)
      .map(i => s"min(h1 + $i * h2) AS sig_$i")
      .mkString(",\n         ")
    val bands = (0 until 3)
      .map(b => s"SELECT id, $b AS band, concat_ws('|', CAST(sig_${2 * b + 1} AS VARCHAR), CAST(sig_${2 * b + 2} AS VARCHAR)) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |sigs AS (
       |  SELECT id,
       |         $sigs
       |  FROM (SELECT id,
       |               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |               CAST(concat('0x', substring(md5(shingle), 17, 15)) AS BIGINT) AS h2
       |        FROM sh) GROUP BY id),
       |buckets AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE x.id % 10 = 0 AND y.id % 10 <> 0),
       |inter AS (
       |  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.id = cand.id_a
       |  JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |${jaccardSelect(0.5)}""".stripMargin
  })

  private def qContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(spread(t(s, d, "documents"), "doc_id"), "doc_id", "text",
      n = 3, tau = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  // URL decomposition mirror: every component rebuilt from the same
  // closed-form arithmetic the Spark side embedded into the URL, so the
  // compare proves parse_url extracts exactly what was put in.
  // Containment mirror: ALL shared-shingle pairs (no pruning — the
  // oracle is the naive quadratic form the prefix filter must equal),
  // both directed containments from exact integer counts.
  query("q_containment", qContainment,
    s"""WITH $shinglesCte,
       |$shingleCountsCte,
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       CAST(n_inter AS DOUBLE) / ca.n_sh AS c_ab,
       |       CAST(n_inter AS DOUBLE) / cb.n_sh AS c_ba
       |FROM inter
       |JOIN counts ca ON ca.id = id_a
       |JOIN counts cb ON cb.id = id_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / ca.n_sh,
       |               CAST(n_inter AS DOUBLE) / cb.n_sh) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin)

  /** SemDeDup-style semantic dedup END-TO-END (Abbas et al. 2023,
    * arXiv:2303.09540): embedding near-duplicate pairs (sign-LSH
    * bucketed candidate generation — never the n² cross product) feed
    * the distributed connected-components resolver, and every vector
    * gets its semantic-cluster id plus the keep/drop decision
    * (canonical = cluster minimum). This is the curation pass that
    * removes paraphrases and re-encodings exact/minhash dedup cannot
    * see. Pair volume is bucket-bounded, the CC loop shuffles only the
    * near-dup VERTEX set (≪ corpus), and the final decision is one
    * left join back to the corpus — each stage holds at 100 TB. */
  private def qSemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Vectors.nearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4)
    val clusters = Dedup.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(clusters, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
      .orderBy(col("vec_id"))
  }
  // SemDeDup apply: the q_embed_neardup pair CTE feeds a recursive
  // transitive closure (component id = min reachable vector over the
  // undirected near-dup edge set), then every vector left-joins its
  // cluster; keep = cluster minimum (vectors in no cluster keep
  // themselves).
  query("q_semdedup", qSemDedup,
    s"""WITH RECURSIVE b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |p AS (
       |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE x.nn > 0 AND y.nn > 0 AND ${cosineExpr("x", "y")} >= 0.4),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT e.vec_id,
       |       COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
       |       COALESCE(cl.cluster_id, e.vec_id) = e.vec_id AS keep
       |FROM embeddings e LEFT JOIN cl ON cl.id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin)

  /** Keep the BEST duplicate, not the first: near-dup clusters (shared
    * simhash signature table) resolved to the member with the highest
    * Gopher quality score — Dedup.clusterRepresentatives' packed-integer
    * argmax (totally ordered, deterministic; never max_by's unspecified
    * tie order). */
  private def qDedupBest(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.Stopwords.toMap.apply("en")
    val clusters = Dedup.simhashClusters(simhashShared(s, d), maxDist = 1)
    val scored = t(s, d, "documents").select(col("doc_id"),
      round(TextOps.qualityScore(col("text"), en) * 1e6).cast("long").as("q_fp6"))
    Dedup.clusterRepresentatives(clusters, scored, "doc_id", "q_fp6")
      .orderBy(col("cluster_id"))
  }
  // Best-duplicate selection: same recursive-CTE cluster closure as
  // q_dedup_clusters, quality fp6 from the q_quality_calibrated CTEs,
  // argmax via the packed key q*2^32 + (2^32-1-id) — plain integer
  // max, totally ordered, engine-exact.
  query("q_dedup_best", qDedupBest, {
    val hits = vocabHits(stop("en"))
    val chunks = Seq((0, 1, 8), (1, 9, 8))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 1),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |         $hits AS hits,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct_ratio
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |         CAST(round(((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
       |           + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
       |           + (1.0 - punct_ratio) * 0.2) * 1000000.0) AS BIGINT) AS q_fp6
       |  FROM t),
       |m AS (
       |  SELECT cl.cluster_id,
       |         q.q_fp6 * 4294967296 + (4294967295 - cl.id) AS pk
       |  FROM cl JOIN q ON q.doc_id = cl.id)
       |SELECT cluster_id,
       |       4294967295 - (max(pk) % 4294967296) AS best_id,
       |       max(pk) // 4294967296 AS best_q_fp6,
       |       count(*) AS n_docs
       |FROM m GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  })

  /** Chunk-level dedup over CONTENT-DEFINED chunks (Dedup.cdcChunks —
    * boundaries from local token hashes, so shared passages keep their
    * chunk identity under insertions that would shift every fixed-size
    * chunk): all chunk hashes occurring more than once across the
    * corpus, with doc-frequency and occurrence counts. The chunker is
    * in-row (zero exchange); the only shuffle is the final hash
    * aggregate on chunk_hash. */
  private def qCdcDedup(s: SparkSession, d: String): DataFrame =
    Dedup.cdcChunks(t(s, d, "documents"), "doc_id", "text", avgTokens = 16)
      .groupBy(col("chunk_hash"))
      .agg(min(col("n_tok")).as("n_tok"),
        countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .orderBy(col("chunk_hash"))
  // CDC chunk dedup: boundary after every token whose md5-60-bit ≡ 0
  // (mod 16); ends = cut positions plus the tail boundary at n (DISTINCT
  // dedups the case where n is itself a cut); chunk j = tokens
  // (prev_end, end], reassembled with list_slice (inclusive 1-based,
  // mirrors Spark slice(toks, prev+1, e-prev)).
  query("q_cdc_dedup", qCdcDedup,
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, u.i AS i, toks[u.i] AS w
      |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      |ends AS (
      |  SELECT DISTINCT doc_id, e FROM (
      |    SELECT doc_id, i AS e FROM tok
      |    WHERE CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 16 = 0
      |    UNION ALL
      |    SELECT doc_id, len(toks) AS e FROM t WHERE len(toks) >= 1)),
      |seq AS (
      |  SELECT doc_id, e,
      |         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS prev
      |  FROM ends),
      |ch AS (
      |  SELECT s.doc_id, CAST(s.e - s.prev AS INTEGER) AS n_tok,
      |         array_to_string(list_slice(t.toks, s.prev + 1, s.e), ' ') AS chunk_text
      |  FROM seq s JOIN t USING (doc_id))
      |SELECT md5(chunk_text) AS chunk_hash, min(n_tok) AS n_tok,
      |       count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      |FROM ch GROUP BY chunk_hash HAVING count(*) > 1
      |ORDER BY chunk_hash""".stripMargin)

  /** N-gram novelty of the held-out split vs train
    * (Dedup.ngramNovelty): per test doc, the fraction of its distinct
    * 3-grams never seen in train — near-zero novelty means the test set
    * is memorized training data. Split = the q_train_test_split
    * md5-percent rule (pct ≥ 80 is held out). */
  private def qNgramNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = spread(t(s, d, "documents"), "doc_id")
    val pct = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    Dedup.ngramNovelty(docs.filter(pct >= 80), docs.filter(pct < 80),
        "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }
  // N-gram novelty: test-split grams against the distinct train gram
  // set; same md5-percent split as q_train_test_split.
  query("q_ngram_novelty", qNgramNovelty, {
    val pct = "CAST(concat('0x', substring(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    s"""WITH $shinglesCte,
       |tr AS (SELECT DISTINCT shingle FROM sh WHERE $pct < 80),
       |te AS (SELECT id, shingle FROM sh WHERE $pct >= 80),
       |tot AS (SELECT id, count(*) AS n_grams FROM te GROUP BY id),
       |seen AS (SELECT te.id, count(*) AS n_seen
       |         FROM te JOIN tr ON te.shingle = tr.shingle GROUP BY te.id)
       |SELECT tot.id AS doc_id, tot.n_grams,
       |       COALESCE(seen.n_seen, 0) AS n_seen,
       |       (tot.n_grams - COALESCE(seen.n_seen, 0)) * 1000 // tot.n_grams AS novel_permille
       |FROM tot LEFT JOIN seen ON tot.id = seen.id
       |ORDER BY doc_id""".stripMargin
  })

  /** TRAIN/TEST SPLIT LEAKAGE audit — near-dup pairs that STRADDLE the
    * deterministic split: the eval-contamination failure mode a plain
    * per-doc split cannot see (a test doc whose near-copy sits in train
    * inflates every benchmark number). Pairs come off the shared
    * persisted simhash signature table (no new corpus scan); the split
    * side is the same md5-percent rule as q_train_test_split; the two
    * side lookups are broadcast joins of the (doc_id, side) projection.
    * Clean pipelines return ZERO rows — the audit's pass state. */
  private def qSplitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.simhashNearDupPairsFromSigs(simhashShared(s, d), maxDist = 2)
    val pct = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    val side = when(pct < 80, "train").when(pct < 90, "valid").otherwise("test")
    val sides = t(s, d, "documents").select(col("doc_id"), side.as("side"))
    pairs
      .join(broadcast(sides.select(col("doc_id").as("id_a"), col("side").as("side_a"))),
        Seq("id_a"))
      .join(broadcast(sides.select(col("doc_id").as("id_b"), col("side").as("side_b"))),
        Seq("id_b"))
      .filter(col("side_a") =!= col("side_b"))
      .select(col("id_a"), col("id_b"), col("side_a"), col("side_b"),
        col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }
  // Split-leakage audit: the q_simhash_pairs closure joined to the
  // q_train_test_split md5-percent sides; pairs straddling the split
  // are the leaks.
  query("q_split_leakage", qSplitLeakage, {
    val chunks = Seq((0, 1, 6), (1, 7, 5), (2, 12, 5))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    val pct = "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    s"""WITH $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         CAST(bit_count(xor(a.v, b.v)) AS INTEGER) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 2),
       |sides AS (
       |  SELECT doc_id,
       |         CASE WHEN $pct < 80 THEN 'train'
       |              WHEN $pct < 90 THEN 'valid'
       |              ELSE 'test' END AS side
       |  FROM documents)
       |SELECT p.id_a, p.id_b, sa.side AS side_a, sb.side AS side_b, p.hamming
       |FROM p JOIN sides sa ON sa.doc_id = p.id_a
       |       JOIN sides sb ON sb.doc_id = p.id_b
       |WHERE sa.side <> sb.side
       |ORDER BY p.id_a, p.id_b""".stripMargin
  })

  /** Near-dup CLUSTER-SIZE histogram — the dedup report card: how much
    * of the corpus sits in how-large duplicate families (mass in big
    * clusters = mirror/template blowup; the singleton row is the clean
    * remainder). Sizes come off the same shared persisted signature
    * table as every simhash consumer; the histogram is two tiny
    * aggregations over the O(clustered-docs) cluster table, and the
    * singleton count is total − clustered from two one-row aggregates
    * (never a corpus anti-join). */
  private def qClusterSizes(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.simhashClusters(simhashShared(s, d), maxDist = 1)
    val hist = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))
    val singletons = t(s, d, "documents").agg(count(lit(1)).as("n_total"))
      .crossJoin(clusters.agg(count(lit(1)).as("n_clustered")))
      .select(lit(1L).as("size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    hist.unionByName(singletons).orderBy(col("size"))
  }
  // Cluster-size histogram off the q_dedup_clusters recursive closure
  // (Hamming <= 1 → 2 chunks of 8 bits), plus the singleton row from
  // the two scalar counts.
  query("q_cluster_sizes", qClusterSizes, {
    val chunks = Seq((0, 1, 8), (1, 9, 8))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 1),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM p
       |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM eg
       |  UNION
       |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size FROM cl GROUP BY cluster_id),
       |h AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters FROM sz GROUP BY size),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
       |clu AS (SELECT CAST(count(*) AS BIGINT) AS n_clustered FROM cl)
       |SELECT size, n_clusters, CAST(size * n_clusters AS BIGINT) AS n_docs FROM h
       |UNION ALL
       |SELECT CAST(1 AS BIGINT) AS size, n_total - n_clustered AS n_clusters,
       |       n_total - n_clustered AS n_docs
       |FROM tot, clu
       |ORDER BY size""".stripMargin
  })

  /** CROSS-SOURCE near-dup overlap matrix — which sources copy which:
    * the mirror-site/content-farm detector that decides whether a
    * whole source gets down-weighted before training (the per-PAIR
    * form of what q_domain_rank aggregates per domain). Pairs ride the
    * shared simhash signature table. The pair side is usually the
    * small side of both source lookups but is NOT hard-broadcast: pair
    * volume is quadratic in cluster size, and the mirror-heavy corpus
    * this query exists to detect is exactly where it outgrows the
    * driver — AQE size-gates the join off the ACTUAL post-shuffle
    * bytes instead (the unigramScore/sizeGated reasoning), degrading
    * to a shuffle join rather than an OOM. The canonical
    * least/greatest fold makes the matrix undirected. */
  private def qSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.simhashNearDupPairsFromSigs(simhashShared(s, d), maxDist = 2)
    val src = t(s, d, "documents").select(col("doc_id"), col("source"))
    src.select(col("doc_id").as("id_a"), col("source").as("src_a"))
      .join(pairs, Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
        Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }
  // Cross-source overlap matrix: the q_split_leakage pair closure
  // (Hamming <= 2 → 3 chunks) joined to sources, canonicalized
  // undirected via least/greatest.
  query("q_source_overlap", qSourceOverlap, {
    val chunks = Seq((0, 1, 6), (1, 7, 5), (2, 12, 5))
      .map { case (i, start, len) =>
        s"SELECT id, v, $i AS chunk, substring(simhash, $start, $len) AS bits FROM v" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $simhashCte,
       |v AS (SELECT id, simhash, CAST(concat('0b', simhash) AS BIGINT) AS v FROM sh16),
       |chunks AS (
       |  $chunks),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.bits = b.bits AND a.id < b.id
       |  WHERE bit_count(xor(a.v, b.v)) <= 2)
       |SELECT least(sa.source, sb.source) AS source_a,
       |       greatest(sa.source, sb.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM p JOIN documents sa ON sa.doc_id = p.id_a
       |       JOIN documents sb ON sb.doc_id = p.id_b
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin
  })

  /** Incremental CDC-chunk admission (Dedup.incrementalCdcAdmit): the
    * day's batch (doc_id%10==0) chunked in-row and screened against the
    * standing corpus's chunk-hash store — admit on ≥500‰ novel chunks.
    * The store streams through one scan with the batch broadcast; a
    * shifted near-copy of an old page keeps its old chunks' identities
    * and is rejected without any exact-fingerprint match. */
  private def qIncrementalCdc(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val standing = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val store = Dedup.cdcChunks(standing, "doc_id", "text", avgTokens = 16)
      .select(col("chunk_hash"))
    Dedup.incrementalCdcAdmit(batch, store, "doc_id", "text",
        avgTokens = 16, admitPermille = 500)
      .orderBy(col("doc_id"))
  }
  // Incremental CDC admission: the same chunk pipeline as q_cdc_dedup,
  // run for the standing corpus (store) and the batch; novel fraction
  // in integer permille.
  query("q_incremental_cdc", qIncrementalCdc,
    """WITH ts AS (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents WHERE doc_id % 10 <> 0),
      |tok_s AS (SELECT doc_id, u.i AS i, toks[u.i] AS w
      |          FROM ts, unnest(range(1, len(toks) + 1)) AS u(i)),
      |ends_s AS (SELECT DISTINCT doc_id, e FROM (
      |  SELECT doc_id, i AS e FROM tok_s
      |  WHERE CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 16 = 0
      |  UNION ALL SELECT doc_id, len(toks) AS e FROM ts WHERE len(toks) >= 1)),
      |seq_s AS (SELECT doc_id, e,
      |                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS prev
      |          FROM ends_s),
      |store AS (SELECT DISTINCT
      |            md5(array_to_string(list_slice(t.toks, s.prev + 1, s.e), ' ')) AS chunk_hash
      |          FROM seq_s s JOIN ts t USING (doc_id)),
      |tb AS (SELECT doc_id, string_split(text, ' ') AS toks
      |       FROM documents WHERE doc_id % 10 = 0),
      |tok_b AS (SELECT doc_id, u.i AS i, toks[u.i] AS w
      |          FROM tb, unnest(range(1, len(toks) + 1)) AS u(i)),
      |ends_b AS (SELECT DISTINCT doc_id, e FROM (
      |  SELECT doc_id, i AS e FROM tok_b
      |  WHERE CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 16 = 0
      |  UNION ALL SELECT doc_id, len(toks) AS e FROM tb WHERE len(toks) >= 1)),
      |seq_b AS (SELECT doc_id, e,
      |                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS prev
      |          FROM ends_b),
      |ch_b AS (SELECT s.doc_id,
      |                md5(array_to_string(list_slice(t.toks, s.prev + 1, s.e), ' ')) AS chunk_hash
      |         FROM seq_b s JOIN tb t USING (doc_id)),
      |agg AS (SELECT doc_id, count(*) AS n_chunks,
      |               count(*) FILTER (WHERE chunk_hash IN (SELECT chunk_hash FROM store)) AS n_dup
      |        FROM ch_b GROUP BY doc_id)
      |SELECT doc_id, n_chunks, n_dup,
      |       (n_chunks - n_dup) * 1000 // n_chunks AS novel_permille,
      |       (n_chunks - n_dup) * 1000 // n_chunks >= 500 AS admit
      |FROM agg ORDER BY doc_id""".stripMargin)

  /** jaccard from an `inter(id_a, id_b, n_inter)` CTE joined to counts. */
  private def jaccardSelect(threshold: Double): String =
    s"""SELECT id_a, id_b,
       |       CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
       |FROM inter
       |JOIN counts ca ON ca.id = id_a
       |JOIN counts cb ON cb.id = id_b
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
}
