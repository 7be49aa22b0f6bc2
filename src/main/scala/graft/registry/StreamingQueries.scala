package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SharedSpark._
import SharedSql._

/** Structured Streaming runners, each run to completion over a
  * file source and compared to its batch equivalent. */
object StreamingQueries extends Module("streaming") {

  /** Sequential near-dup admission, as the streaming lifecycle runs it:
    * over the in-batch pairs `p` of `hl`, the surviving cluster minima
    * (`minima`, a doc in no cluster keeps itself) and batch 0's
    * admissions `adm0`. Needs WITH RECURSIVE. */
  private val minimaCte =
    s"""$reachCte,
       |minima AS (
       |  SELECT hl.* FROM hl
       |  LEFT JOIN (SELECT id, min(r) AS m FROM reach GROUP BY id) c ON c.id = hl.id
       |  WHERE c.m IS NULL OR c.m = hl.id),
       |adm0 AS (SELECT * FROM minima WHERE b = 0)""".stripMargin

  /** Batch `b`'s 64-bit admissions `adm$b`: its minima with no signature
    * within Hamming 3 of the `window` store. */
  private def admit64(b: Int, window: String): String =
    s"""adm$b AS (
       |  SELECT m.* FROM minima m WHERE m.b = $b AND NOT EXISTS (
       |    SELECT 1 FROM $window a
       |    WHERE bit_count(xor(a.hi, m.hi)) + bit_count(xor(a.lo, m.lo)) <= 3))""".stripMargin

  /** The 64-bit store over `nBatches` doc_id-residue batches, through
    * batch 1's admissions: `hl` with b = id % nBatches, the exact
    * in-batch Hamming ≤ 3 pairs (the engine's banding is candidate
    * pruning only — pigeonhole makes its pair set exactly the
    * brute-force set), `minima`, `adm0` and `adm1`. */
  private def store64Cte(nBatches: Int): String =
    s"""${hiLoCte(s"id % $nBatches AS b, ")},
       |p AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM hl x JOIN hl y ON x.b = y.b AND x.id < y.id
       |  WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3),
       |$minimaCte,
       |${admit64(1, "adm0")}""".stripMargin

  /** The STREAMING engine under the correctness gate: tumbling-window
    * counts computed by an actual Structured Streaming run (file source →
    * watermark + event-time window → memory sink, AvailableNow) over the
    * events parquet, verified against the plain SQL aggregation — see
    * EventStream.runWindowedCountsOnce. */
  private def qStreamWindowCounts(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.runWindowedCountsOnce(s, s"$d/events.parquet")
      .orderBy(col("window_start_us"), col("event_type"))
  // The streaming windowed aggregate equals this batch SQL on bounded
  // input (complete mode, one AvailableNow pass). Spark's 1-hour
  // tumbling windows align to the epoch, so the bucket is integer
  // floor arithmetic on epoch-µs.
  query("q_stream_window_counts", qStreamWindowCounts,
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |       event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin)

  /** STREAMING corpus-quality drift monitor: the ingestion
    * guardrail of a continuously-fed training pipeline — per-(window,
    * language) volume + chars/token stats through the REAL engine (file
    * source → watermarked window aggregation → memory sink,
    * AvailableNow) — see streaming.CorpusMonitor. */
  private def qStreamQuality(s: SparkSession, d: String): DataFrame =
    graft.streaming.CorpusMonitor.runQualityDriftOnce(s, s"$d/documents.parquet")
      .orderBy(col("window_start_s"), col("lang"))
  // Streaming corpus-quality drift monitor: the batch twin of the real
  // windowed-aggregation lifecycle — event time derives from doc_id
  // (1 doc/s), so window(100s).start = (doc_id // 100) * 100.
  query("q_stream_quality", qStreamQuality,
    """SELECT (doc_id // 100) * 100 AS window_start_s, lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST((1000 * sum(n_chars)) // sum(len(string_split(text, ' '))) AS BIGINT)
      |         AS chars_per_tok_permille
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY window_start_s, lang""".stripMargin)

  /** STREAMING stream-static enrichment: event stream × broadcast
    * customer dimension → per-(hour, market segment) counts and exact
    * cent totals, through the real engine (AvailableNow + complete —
    * deterministic over bounded input, see EventStream). */
  private def qStreamEnrich(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.runEnrichedCountsOnce(s, s"$d/events.parquet",
        t(s, d, "customer"), "c_custkey", "c_mktsegment")
      .orderBy(col("window_start_us"), col("segment"))
  // stream-static join + windowed agg: every user_id (0..149) has a
  // customer row, so the inner join is total; windows are epoch-aligned
  query("q_stream_enrich", qStreamEnrich,
    """SELECT (epoch_us(e.ts) // 3600000000) * 3600000000 AS window_start_us,
      |       c.c_mktsegment AS segment,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY window_start_us, segment""".stripMargin)

  /** STREAMING stream-stream self-join: purchases attributed to the same
    * user's clicks within the preceding hour, through the real engine
    * (watermark-bounded state on BOTH sides, append mode). */
  private def qStreamJoin(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.runAttributionOnce(s, s"$d/events.parquet")
      .orderBy(col("click_id"), col("purchase_id"))
  // stream-stream join: inner matches over bounded input equal the
  // batch self-join; µs arithmetic matches Spark's timestamp + interval
  query("q_stream_join", qStreamJoin,
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |ORDER BY click_id, purchase_id""".stripMargin)

  /** STREAMING bounded-store 64-bit near-dup admission under the gate
    * as a gated lifecycle:
    * the documents table drains through the REAL bounded lifecycle as
    * two doc_id-parity micro-batches (within-batch 64-bit banded
    * clusters keep min id; batch-1 survivors are matched against the
    * capacity-trimmed window of batch-0 admissions), and the admitted
    * (id, simhash) index is the verified output. Gate capacity (2^20)
    * pins the window=everything regime so the oracle replays plain
    * sequential admission; eviction/replay semantics are spec-pinned
    * (NearDup64StreamSpec). */
  private def qStreamNearDup64(s: SparkSession, d: String): DataFrame =
    graft.streaming.NearDupStream.runDocNearDup64GateOnce(
        s, s"$d/documents.parquet", maxDist = 3, capacity = 1L << 20)
      .orderBy(col("id"))
  // Bounded-store 64-bit streaming near-dup admission, replayed as
  // plain sequential batch admission (gate capacity = the
  // window=everything regime): batch b = doc_id % 2; within-batch
  // clusters = connected components of the exact Hamming<=3 pair
  // graph; batch-1 minima are then dropped against batch-0 admissions.
  query("q_stream_neardup64", qStreamNearDup64,
    s"""WITH RECURSIVE $simhash64Cte,
       |${store64Cte(2)}
       |SELECT id, simhash FROM adm0
       |UNION ALL SELECT id, simhash FROM adm1
       |ORDER BY id""".stripMargin)

  /** the bounded store's FIFO EVICTION under the hash gate: three
    * parity batches at capacity = n_docs/4, so batch 2's match window is
    * trimmed to batch 1 (whenever batch 1 admitted ≥ capacity — the
    * oracle replays that CONDITION, not an assumed outcome; at n/4 it
    * holds at every test SF: 4 re-admissions at sf0.01, 68 at sf0.1)
    * and batch-0 near-dups in batch 2 are re-admitted past the evicted
    * signatures.
    * The trim-and-replay contract this pins is the subtlest reasoning in
    * the streaming tier; q_stream_neardup64 pins the window=everything
    * regime, this row pins the window=trimmed one. */
  private def qStreamNearDup64Evict(s: SparkSession, d: String): DataFrame =
    graft.streaming.NearDupStream.runDocNearDup64EvictGateOnce(
        s, s"$d/documents.parquet", maxDist = 3)
      .orderBy(col("id"))
  // FIFO eviction under the gate: three parity batches (b = doc_id % 3)
  // at capacity = n_docs // 4 (below one batch's admissions at every
  // test SF, so the trim actually fires). Batches 0 and 1 replay plain
  // admission (batch 1's window is always all of batch 0 — the trim
  // takes at least one older batch). Batch 2's window replays the trim
  // RULE itself: newest older batches until cumulative admissions first
  // reach capacity — i.e. batch-1 admissions, plus batch-0 admissions
  // ONLY IF |adm1| < capacity (the engine's trimToCapacity conditional,
  // not an assumed outcome). Same signature/CC machinery as
  // q_stream_neardup64.
  query("q_stream_neardup64_evict", qStreamNearDup64Evict,
    s"""WITH RECURSIVE $simhash64Cte,
       |cap AS (SELECT GREATEST(1, count(*) // 4) AS c FROM documents),
       |${store64Cte(3)},
       |w2 AS (
       |  SELECT hi, lo FROM adm1
       |  UNION ALL
       |  SELECT hi, lo FROM adm0
       |  WHERE (SELECT count(*) FROM adm1) < (SELECT c FROM cap)),
       |${admit64(2, "w2")}
       |SELECT id, simhash FROM adm0
       |UNION ALL SELECT id, simhash FROM adm1
       |UNION ALL SELECT id, simhash FROM adm2
       |ORDER BY id""".stripMargin)

  /** The 16-bit UNBOUNDED streaming lifecycle under the hash
    * gate: two
    * parity batches through [[graft.streaming.NearDupStream.runNearDupStreamOnce]],
    * whose store the 2^16 signature SPACE bounds (no capacity, no trim,
    * no eviction — window=everything is the width's semantic). maxDist=2
    * matches the 16-bit teaching tier (q_simhash_pairs). The oracle
    * replays sequential admission with the sh16 CTE. */
  private def qStreamNearDup16(s: SparkSession, d: String): DataFrame =
    graft.streaming.NearDupStream.runDocNearDup16GateOnce(
        s, s"$d/documents.parquet", maxDist = 2)
      .orderBy(col("id"))
  // 16-bit UNBOUNDED streaming near-dup admission, replayed as
  // plain sequential batch admission: batch b = doc_id % 2;
  // within-batch clusters = connected components of the exact
  // Hamming<=2 pair graph (the engine's signature-contracted banding
  // is candidate pruning only — pigeonhole makes the pair set exactly
  // the brute-force set, and contracting by signature preserves
  // doc-level connectivity since identical signatures are distance 0);
  // batch-1 minima drop against ALL batch-0 admissions — the 16-bit
  // store is bounded by its signature SPACE, so there is no trim
  // conditional to replay (contrast q_stream_neardup64_evict).
  query("q_stream_neardup16", qStreamNearDup16,
    s"""WITH RECURSIVE $simhashCte,
       |hl AS (
       |  SELECT id, id % 2 AS b, simhash,
       |         CAST(concat('0b', simhash) AS BIGINT) AS v
       |  FROM sh16),
       |p AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM hl x JOIN hl y ON x.b = y.b AND x.id < y.id
       |  WHERE bit_count(xor(x.v, y.v)) <= 2),
       |$minimaCte,
       |adm1 AS (
       |  SELECT m.* FROM minima m WHERE m.b = 1 AND NOT EXISTS (
       |    SELECT 1 FROM adm0 a WHERE bit_count(xor(a.v, m.v)) <= 2))
       |SELECT id, simhash FROM adm0
       |UNION ALL SELECT id, simhash FROM adm1
       |ORDER BY id""".stripMargin)

  /** STREAMING in-stream dedup under the gate: the landing directory
    * holds the events file TWICE, so dropDuplicatesWithinWatermark has
    * real duplicates to drop; the emitted set is the distinct event ids
    * (= the oracle's plain scan). */
  private def qStreamDedup(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.runStreamDedupOnce(s, s"$d/events.parquet")
      .orderBy(col("event_id"))
  // in-stream dedup over a doubled landing: emitted set = distinct ids
  query("q_stream_dedup", qStreamDedup,
    """SELECT event_id FROM events ORDER BY event_id""".stripMargin)

  /** STREAMING sessionization (flatMapGroupsWithState + event-time
    * timeout) through an actual bounded streaming run — the emitted set
    * is deterministic (see EventStream.runSessionizeOnce) and the oracle
    * replays the same contract in SQL: every non-final session plus
    * finals that time out under the final watermark. */
  private def qStreamSessionize(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.runSessionizeOnce(s, s"$d/events.parquet",
        gapMs = 30L * 60 * 1000, delayMs = 10L * 60 * 1000)
      .orderBy(col("user_id"), col("start_ms"))
  // percentile ↔ quantile_cont interpolation parity is already proven by
  // q_percentiles; the clip keeps exact-integer cents except at the
  // interpolated bounds.
  // Streaming sessionize contract: ms-domain gap sessionization (the
  // state kernel works on Timestamp.getTime), every non-final session
  // (closed in-batch by its successor) plus final sessions whose
  // timeout end_ms + gap falls strictly under the final watermark
  // max_ms − delay. Cents are integral so the state's sequential sums
  // are exact.
  query("q_stream_sessionize", qStreamSessionize,
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |mx AS (SELECT max(ms) AS mx FROM e),
      |f AS (SELECT user_id, ms, cents, event_id,
      |        CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
      |                  OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
      |             THEN 1 ELSE 0 END AS ns
      |      FROM e),
      |g AS (SELECT user_id, ms, cents,
      |        sum(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM f),
      |s AS (SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
      |             count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS total_cents
      |      FROM g GROUP BY 1, 2),
      |t AS (SELECT user_id, sid, start_ms, end_ms, n_events, total_cents,
      |             max(sid) OVER (PARTITION BY user_id) AS last_sid FROM s)
      |SELECT user_id, start_ms, end_ms, n_events, total_cents
      |FROM t, mx
      |WHERE sid < last_sid OR end_ms + 1800000 < mx - 600000
      |ORDER BY user_id, start_ms""".stripMargin)
}
