package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash. Everything is expressed as
  * DataFrame transformations whose joins are equi-joins on derived keys
  * (shingle, band bucket, simhash) — i.e. shuffle-partitionable, no
  * pairwise O(n²) cross product materialized anywhere, which is what makes
  * these viable at 100 TB.
  *
  * Hash choice: MinHash permutations use lexicographic MIN over
  * `md5(seed || '|' || shingle)` hex strings. md5 on a fixed string is
  * engine-portable (same result in Spark, DuckDB, Postgres), which makes
  * the whole pipeline oracle-verifiable end-to-end; the hex-string order is
  * a fixed pseudo-random permutation of the shingle space, exactly what
  * MinHash needs. Swap in xxhash64 for raw speed if portability is not
  * required.
  */
object Dedup {

  /** Exact dedup: one surviving doc_id per identical text (content
    * addressed by md5 fingerprint). Single hash-aggregate, map-side
    * partials, no sort.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word n-gram shingles per document:
    * (id, shingle). `n`-gram over the whitespace token array via
    * transform+slice — pure codegen expressions.
    */
  /** Sorted distinct word n-gram array for one document — in-row, no
    * shuffle, single codegen pass (graft.functions.ShingleArray). Docs
    * with < n tokens yield an empty array. `shingleArrayBuiltins` is the
    * pure-builtin formulation the native expression is spec-checked
    * against (and that the DuckDB oracle mirrors). */
  def shingleArray(textCol: Column, n: Int): Column =
    graft.functions.ShingleArray(textCol, n)

  def shingleArrayBuiltins(textCol: Column, n: Int): Column = {
    val toks = TextOps.tokens(textCol)
    val grams = when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    sort_array(array_distinct(grams))
  }

  /** Per-doc shingle sets: (id, sh_arr sorted-distinct, n_sh). A NARROW
    * transform — shingle construction never shuffles; the set table is
    * what both near-dup pipelines persist and reuse. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingleArray(col(textCol), n).as("sh_arr"))
      .withColumn("n_sh", size(col("sh_arr")).cast("long"))

  /** Exploded (id, shingle) rows — row form of `shingleSets` for
    * aggregation-shaped consumers; empty docs drop out. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(shingleArray(col(textCol), n)).as("shingle"))

  /** Exact intersection/Jaccard verification for candidate pairs against a
    * `sets` frame of (id, sh_arr, n_sh): two equi-joins (AQE turns them
    * into broadcasts when the doc side is small) and an in-row linear
    * array intersect — |A∪B| = |A|+|B|−|A∩B| — instead of a shuffled
    * group-by over matched shingle rows.
    */
  /** Attach a SHUFFLE_HASH join hint only when `df`'s size estimate is
    * past the broadcast threshold — i.e. exactly when the planner would
    * otherwise fall back to a sort-merge join. Below the threshold the
    * frame is returned unhinted so the planner's broadcast choice (no
    * shuffle of the big side at all) stands; a hint would override it. */
  private def shuffleHashIfBig(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val thresh = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    if (thresh >= 0 && bytes > thresh) df.hint("shuffle_hash") else df
  }

  private def jaccardFromSets(candidates: DataFrame, sets: DataFrame,
                              threshold: Double): DataFrame = {
    // Both lookups join the IDENTICAL projection (aliased, not renamed):
    // the two broadcast subplans are then equal and exchange reuse builds
    // the broadcast once instead of twice.
    // n_inter via a codegen merge walk (graft.functions
    // .SortedIntersectCount) — the set arrays are sorted-distinct by
    // ShingleArray construction, so |A∩B| needs no hash set and no
    // materialized intersect array per candidate pair.
    // Set-table lookups size-gate hinted to SHUFFLE_HASH (never the
    // sort-merge fallback — sorting the array-laden pair stream is the
    // measured pathology; see setLookupSide). Unlike the containment
    // verify this one KEEPS the shuffle past the broadcast threshold:
    // the prefix⋈prefix candidate set is ~6× smaller than the
    // prefix⋈full one, and the ×100 study measured the explicit
    // broadcast SLOWER here (11.5 → 15.8 s — the ~1 GB broadcast build
    // cost outweighs the smaller pair exchange it avoids).
    val s = shuffleHashIfBig(sets.select(col("id"), col("sh_arr"), col("n_sh")))
    // The candidate table is BYTE-wise tiny (two ids per row) but each
    // row costs a merge walk over two shingle arrays, so AQE's byte-based
    // coalescing funnels the verify onto one task (observed ~0.7-1.3 s
    // single-task stages in every dedup head). Pin the verify width to
    // the set table's instead — the explicit numbered repartition is
    // exempt from AQE coalescing.
    val cand = candidates.repartition(graft.Par.widthFor(sets), col("id_a"))
    cand
      .join(s.as("sa"), col("id_a") === col("sa.id"))
      .join(s.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount(col("sa.sh_arr"), col("sb.sh_arr")))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("sa.n_sh") + col("sb.n_sh") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The shared persisted per-doc set table (id, sh_arr, n_sh) — a pure
    * NARROW build (ShingleArray per row, no shuffle beyond whatever
    * partitioning the caller provides). Both near-dup pipelines persist
    * this exact plan, so Spark's CacheManager keeps ONE copy and
    * whichever pipeline runs first pays the (cheap) build — the
    * in-session equivalent of materializing the corpus shingle table
    * once at 100 TB and pointing every consumer at it. */
  private[graft] def persistedSets(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    graft.Caches.materialize(
      shingleSets(docs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Exact GLOBAL RANK 1..n of `df`'s rows by (k, id) — without the
    * single-partition window a bare `row_number() OVER (ORDER BY …)`
    * plans to. Shape: ONE range-repartition by (k, id) (Spark's own
    * `orderBy` exchange — boundary sampling balances skew), a
    * per-partition `row_number` window (each partition sorts locally),
    * and per-partition row-count offsets computed as a window over the
    * WIDTH-row count table (bounded by the shuffle width, never by data)
    * and broadcast-joined back. Global rank = offset + local rank is
    * exact for ANY boundary placement because range partitions are
    * order-disjoint. Returns (id, k, r). */
  private[graft] def globalRankByKey(df: DataFrame): DataFrame = {
    // MATERIALIZED before the fan-out, and not as an optimization: the
    // partition-id column below is Spark-nondeterministic, and this
    // subtree is consumed TWICE — by the local-rank window AND by the
    // broadcast offset table. Un-materialized, those are two
    // instantiations of the range exchange whose boundary SAMPLES are
    // drawn independently per instantiation; exchange/stage reuse
    // usually collapses them, but a cold-plan race (the broadcast
    // thread and the main stage both planning the subtree — the
    // documented Caches.materialize race class) leaves two exchanges
    // with DIFFERENT boundaries, and offsets computed against one
    // partitioning join local ranks computed against another: corrupt
    // global ranks (observed once at sf0.1 in a full 258-query run —
    // quintile 6 of 5 in q_rfm_segments — and not reproducible in
    // isolation, exactly the signature of a reuse race). The eager
    // one-pass materialize pins ONE partitioning that both consumers
    // read; eviction recompute reuses the same Partitioner instance,
    // so the pid column stays frozen.
    val parted = graft.Caches.materialize(df.select(col("id"), col("k"))
      .repartitionByRange(graft.Par.widthFor(df), col("k"), col("id"))
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val local = parted.withColumn("lr",
      row_number().over(Window.partitionBy(col("pid")).orderBy(col("k"), col("id"))))
    val offs = local.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    local.join(broadcast(offs), Seq("pid"))
      .select(col("id"), col("k"), (col("off") + col("lr")).as("r"))
  }

  /** Multi-pass SORTED-NEIGHBORHOOD near-dup blocking (Hernández &
    * Stolfo's merge/purge, DMKD 1998 — public algorithm): sort the
    * corpus by a cheap blocking key, compare each record only to its
    * `window` successors in that order, and run a second pass under a
    * second key so records whose FIRST key diverges (a corrupted prefix)
    * still meet under the other. Pass keys here: the first `prefixLen`
    * chars of the normalized text, then of its REVERSE (prefix noise vs
    * suffix noise). Candidates from both passes union, dedup, and are
    * verified with the exact shingle Jaccard — the same verify the
    * PPJoin path uses, so a pair this operator reports is a TRUE ≥ t
    * near-dup; what blocking trades away is recall on pairs neither key
    * brings within `window` (the documented miss class of every
    * sort-based blocker).
    *
    * WHY alongside LSH/PPJoin (X3/X33): candidate volume is EXACTLY
    * n·window·passes regardless of content — a sorted-neighborhood pass
    * cannot blow up on an adversarial corpus the way a hot LSH bucket or
    * frequent-shingle prefix can, so it is the skew-proof floor of a
    * dedup ensemble. Scale shape: two global-rank sorts (range exchange +
    * local sort — Spark's own orderBy shape), candidate generation is an
    * EQUI-join of (r + off) against r on the dense integer rank (off
    * exploded 1..window — uniform keys, zero skew by construction), and
    * the verify probes the shared persisted shingle-set table. Returns
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ `threshold`. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              n: Int, window: Int, prefixLen: Int,
                              threshold: Double): DataFrame = {
    require(window >= 1 && window <= 64, s"window=$window out of range 1..64")
    require(prefixLen >= 1, s"prefixLen=$prefixLen must be >= 1")
    val sets = persistedSets(docs, idCol, textCol, n)
    val norm = TextOps.normalizeText(col(textCol))
    val keys = Seq(substring(norm, 1, prefixLen),
      substring(reverse(norm), 1, prefixLen))
    // docs with no shingles (< n tokens) can never verify at t > 0 —
    // keep them out of the sort so they don't pad windows (and don't
    // 0/0 the Jaccard)
    val eligible = docs.join(
      sets.filter(col("n_sh") > 0).select(col("id").as(idCol)), Seq(idCol),
      "left_semi")
    val cands = keys.map { key =>
      val ranked = graft.Caches.materialize(
        globalRankByKey(eligible.select(col(idCol).as("id"), key.as("k")))
          .select(col("id"), col("r"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val probe = ranked.select(col("id").as("ia"),
          explode(sequence(lit(1L), lit(window.toLong))).as("off"), col("r"))
        .select(col("ia"), (col("r") + col("off")).as("r"))
      probe.join(ranked.select(col("id").as("ib"), col("r")), Seq("r"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"))
    }
    // distinct BEFORE the verify: cross-pass duplicates are up to 2× and
    // each candidate costs a merge walk over two shingle arrays, while
    // the candidate table itself is two BIGINTs per row — the cheap side
    // of that trade is the shuffle.
    jaccardFromSets(cands.reduce(_ unionAll _).distinct(), sets, threshold)
  }

  /** The canonical-order index on top of the set table — (id, n_sh,
    * ord_sh) with the doc's xxhash64'd shingles sorted by ascending
    * global document frequency, hashed shingle as tie-break (the
    * AllPairs/PPJoin preprocessing). Persisted separately from the base
    * table so only the Jaccard pipeline pays the df aggregation, and the
    * index rows carry 8-byte hashes only — downstream candidate
    * generation needs shingle EQUALITY plus a fixed total order, both of
    * which the hash provides at a fraction of the string cost; a rare
    * hash collision merely admits one extra candidate pair, which the
    * exact (string-set) verification against the base table discards.
    * At 100 TB these are the two materialized artifacts of a dedup
    * corpus: the shingle-set table and its ordered prefix index. */
  private[graft] def persistedOrderIndex(sets: DataFrame): DataFrame = {
    val exploded = sets.select(col("id"), explode(col("sh_arr")).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("sh"))
    // Global document frequencies as an aggregate + JOIN rather than a
    // window: the window formulation shuffle-SORTS the whole exploded
    // gram table by shingle; the join formulation shuffles only the
    // (distinct-gram-sized) df map and lets AQE pick the join strategy —
    // broadcast when the vocabulary fits (then the gram table never
    // moves and the groupBy below runs exchange-free on the set table's
    // id partitioning), plain shuffle join when a 100 TB vocabulary
    // doesn't. Either way the sort disappears: canonical order comes
    // from the per-doc array_sort, which is in-row.
    val dfMap = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // SHUFFLE_HASH (size-gated) on the df map: when the vocabulary
    // outgrows the broadcast threshold the planner's default fallback
    // is a sort-merge join, which SORTS the whole exploded gram table
    // by shingle — the exact sort this formulation exists to avoid
    // (measured at 10× sf0.1: a multi-second single-task sort stage
    // after AQE coalesced the gram shuffle by bytes). A shuffled hash
    // join builds the per-partition vocab hash table (vocab/width rows
    // — always the small side) and STREAMS the gram table, so the
    // no-sort property holds at every scale. The hint is attached only
    // when the map's estimate exceeds the broadcast threshold: a join
    // hint OVERRIDES the planner's broadcast selection, and below the
    // threshold the broadcast (gram table never moves at all) is the
    // better plan — forcing SHJ there cost ~0.3 s/head at sf0.1.
    graft.Caches.materialize(
      exploded.join(shuffleHashIfBig(dfMap), Seq("sh"))
        .groupBy("id")
        .agg(
          count(lit(1)).as("n_sh"),
          transform(array_sort(collect_list(struct(col("df"), col("sh")))),
            s => s.getField("sh")).as("ord_sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Pairwise n-gram Jaccard with PREFIX FILTERING (AllPairs/PPJoin,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public algorithms):
    * order each doc's shingles by ascending global document frequency;
    * if J(A,B) ≥ t then the first |X| − ⌈t·|X|⌉ + 1 shingles of BOTH X=A
    * and X=B (in that canonical order) must share an element, so joining
    * only the prefixes generates every qualifying pair EXACTLY while
    * skipping the quadratic blow-up on frequent shingles. A length filter
    * (t·|A| ≤ |B|) prunes further. Candidates are then verified with the
    * true Jaccard, so the result is identical to the naive all-pairs join.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ `threshold`.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, maxBucket: Int = 1024): DataFrame = {
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    val sets = persistedSets(docs, idCol, textCol, n)
    // Prefixes come straight off the canonically-ordered hash index:
    // rarest-first order means prefix collisions almost never happen on
    // natural (Zipfian) corpora. A NARROW slice — prefix length =
    // |X| - ceil(t*|X|) + 1 — with posexplode keeping the 0-based
    // canonical position for the PPJoin positional filter below.
    val index = persistedOrderIndex(sets)
    val prefix = index.select(col("id"), col("n_sh"),
      posexplode(slice(col("ord_sh"), lit(1),
        (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int"))))
      .withColumnRenamed("col", "sh")
    // Candidate pairs by GROUPING the prefix rows per hashed shingle and
    // expanding (a, b) pairs in-row — same pairs a prefix self-join
    // yields, but the (expensive) ordered-prefix subtree is computed ONCE
    // instead of once per join side, and one shuffle replaces two. The
    // per-shingle group is bounded on NATURAL corpora because
    // df-ascending prefixes hold each doc's rarest shingles, but an
    // adversarial corpus (thousands of identical docs) makes every
    // prefix shingle frequent — so the SKEW GUARD is fused into the
    // aggregation itself: CappedCollect keeps at most `maxBucket`
    // elements per group (partial aggregation bounds map output too) and
    // flags overflow; overflowed shingles re-derive their rows narrowly
    // from the cached index and stream through an equi-self-join with
    // identical length + positional filters.
    def lengthAndPositionalFilter(a: String, b: String): Column = {
      val needed = lit(threshold / (1 + threshold)) *
        (col(s"$a.n_sh") + col(s"$b.n_sh"))
      col(s"$a.id") < col(s"$b.id") &&
        // length filter: J >= t requires t*|A| <= |B| and t*|B| <= |A|
        col(s"$b.n_sh") >= lit(threshold) * col(s"$a.n_sh") &&
        col(s"$a.n_sh") >= lit(threshold) * col(s"$b.n_sh") &&
        // positional filter (PPJoin): a match at 0-based positions (i, j)
        // caps the achievable overlap at min(|A|-i, |B|-j); J >= t needs
        // overlap >= t/(1+t)·(|A|+|B|) — prune pairs that cannot reach it.
        least(col(s"$a.n_sh") - col(s"$a.pos"),
          col(s"$b.n_sh") - col(s"$b.pos")) >= needed
    }
    val grouped = prefix
      .groupBy(col("sh"))
      .agg(graft.functions.CappedCollect(
        col("id"), col("n_sh"), col("pos"), maxBucket).as("cc"))
    val smallPairs = grouped
      .filter(!col("cc.overflow") && size(col("cc.xs")) > 1)
      .select(explode(col("cc.xs")).as("a"), col("cc.xs").as("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(lengthAndPositionalFilter("a", "b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val bigKeys = grouped.filter(col("cc.overflow")).select(col("sh"))
    val big = prefix.join(broadcast(bigKeys), Seq("sh"), "left_semi")
      .select(struct(col("id"), col("n_sh"), col("pos")).as("x"), col("sh"))
    val bigPairs = big.select(col("x").as("a"), col("sh")).as("ga")
      .join(big.select(col("x").as("b"), col("sh")).as("gb"), Seq("sh"))
      .filter(lengthAndPositionalFilter("a", "b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val candidates = smallPairs.union(bigPairs)
    // A pair sharing several prefix shingles is verified that many times
    // (bounded by the prefix length); deduping the FINAL tiny result
    // replaces a full candidate-table shuffle (distinct before verify)
    // with a few redundant broadcast-join probes — the verified rows are
    // bit-identical, so the end distinct is exact.
    jaccardFromSets(candidates, sets, threshold).distinct()
  }

  /** Asymmetric set-CONTAINMENT near-dup: C(A→B) = |A∩B| / |A| — the
    * doc-contains-doc detector Jaccard misses (a quote, an excerpt, or a
    * page embedded in a larger page has high containment but low Jaccard
    * once sizes diverge; LLM dedup fleets run both). Candidate
    * generation extends the PPJoin prefix argument to the DIRECTED
    * measure: if C(A→B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, so A's first
    * |A| − ⌈τ·|A|⌉ + 1 shingles in canonical (df-ascending) order must
    * hit B SOMEWHERE — the suffix alone is too short to carry the
    * overlap. Only the source side prunes (the containing side can be
    * arbitrarily larger, so no length filter applies); candidates are
    * prefix(A) ⋈ full-index(B) on the hashed shingle, which covers both
    * directions of every qualifying unordered pair because at least one
    * endpoint's prefix must hit the other. The equi-join spills (no
    * per-group array is ever built), and the prefix side carries each
    * doc's RAREST shingles so the per-key fan-out is the df of a rare
    * gram on natural corpora; candidates are then verified EXACTLY
    * against the string-set table (hash collisions only admit extra
    * candidates). Returns (id_a, id_b, c_ab, c_ba) with id_a < id_b and
    * max(c_ab, c_ba) ≥ τ.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau=$tau out of range (0, 1]")
    val sets = persistedSets(docs, idCol, textCol, n)
    val index = persistedOrderIndex(sets)
    val prefix = index.select(col("id"), col("n_sh"),
      posexplode(slice(col("ord_sh"), lit(1),
        (col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1).cast("int")))
        .as(Seq("pa0", "sh")))
    val full = index.select(col("id"), col("n_sh"), explode(col("ord_sh")).as("sh"))
    // Operand order was A/B'd in round 11: building the hash table from
    // the (smaller) prefix side and probing with the full gram stream
    // measured flat-to-worse than this orientation — the probe side
    // carries the per-row join work, so fewer probe rows (prefix side)
    // beats a smaller build table at this shape's sizes. Past the
    // broadcast threshold the size-gated SHUFFLE_HASH hint (on the
    // prefix side — the build side must be the ~(1−τ)-sized one for
    // per-partition memory safety at corpus scale) keeps the fallback a
    // shuffled hash join: the default sort-merge fallback sorts BOTH
    // exploded gram streams (measured as the dominant cost of this
    // operator at 10× sf0.1).
    // POSITIONAL FILTER (PPJoin's, specialized to the prefix⋈full
    // containment probe). Both gram lists are sorted by the SAME global
    // (frequency, hash) order, so a candidate row matching at 0-based
    // prefix position pa0 of A bounds the overlap ONE-SIDEDLY: for the
    // row where pa0 is A's first match (which exists for every true
    // pair in the orientation whose ratio clears τ — that side's first
    // common gram provably lands inside its prefix), n_inter ≤
    // nA − pa0. Requiring nA − pa0 + 1 ≥ τ·min(nA, nB) (+1 = fp-safety
    // slack, the product is a double) therefore never drops a true
    // pair. Pruning power comes from SIZE SKEW (a small-A probe deep
    // into its prefix against a large B): on the uniform-length
    // synthetic corpus the bound is vacuous (prefix length ≈ the bound
    // slack — measured 0% pruned at ×100, where the real fix was the
    // setLookupSide broadcast below), but on a real corpus with varied
    // document lengths it is the standard candidate cutter, and it
    // rides the join for one comparison per row.
    val cand = shuffleHashIfBig(prefix.as("a")).join(full.as("b"), Seq("sh"))
      .filter(col("a.id") =!= col("b.id"))
      .filter((col("a.n_sh") - col("a.pa0") + 1).cast("double") >=
        lit(tau) * least(col("a.n_sh"), col("b.n_sh")).cast("double"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    // DISTINCT BEFORE verify — deliberately the opposite trade from
    // ngramJaccardPairs. The Jaccard prefix⋈prefix join regenerates a
    // pair once per shingle shared WITHIN both short prefixes (factor
    // ~1-3), so re-verifying beats an extra exchange. This prefix⋈FULL
    // join regenerates a pair once per A-prefix shingle contained in B —
    // on duplicate-heavy corpora that is the whole prefix, ~(1−τ)·|A|+1
    // rows per pair, each paying an O(|A|+|B|) merge-walk verify:
    // measured 22× wall-clock at 4× corpus (quadratic) without the
    // distinct, ~linear with it. The deduped candidate table is two
    // BIGINTs per row, so the exchange is the cheap side of the trade.
    containmentFromSets(cand.distinct(), sets, tau)
  }

  /** Exact containment verification for candidate pairs against the
    * `sets` frame — same two-equi-join + codegen merge-walk shape as
    * [[jaccardFromSets]], emitting BOTH directed containments.
    *
    * Size-gated SHUFFLE_HASH on the set lookups (the jaccardFromSets
    * reasoning): past the broadcast threshold the sort-merge fallback
    * SORTS the pair stream with ~|doc| bytes of shingle array attached
    * to every row — the ×100 study's one super-linear decade
    * (q_containment 4.4× at ×10 → 52× at ×100 under SMJ, ~23× under
    * SHJ, with candidate/pair/output counts all exactly linear; the
    * residue is the pair×array exchange itself, linear in bytes but
    * past one host's page cache). An explicit broadcast of the set
    * table (~0.5% of corpus bytes) cut the verify 65 → 18 s when the
    * driver heap allowed it, but is heap-fragile (OOM-guard at the
    * default 8 g) and moot at 100 TB where the set table is ~0.5 TB —
    * so the portable shape is SHJ: per-partition build bounded by
    * corpus/width, pairs streamed unsorted.
    *
    * The r13 bucketed-layout experiment REFUTED (SCALE_r13 study 2):
    * writing the set table bucketBy(id)+sortBy(id) and reading
    * co-located buckets for both lookups measured 61× at ×100 vs this
    * shape's ~23× — because both lookups here join the IDENTICAL
    * aliased projection, Spark's exchange reuse already moves the
    * array-carrying table ONCE; the bucketed form replaced that one
    * reused exchange with a sorted write plus two cold reads per run,
    * strictly more I/O under cold billing. Layout-once only wins
    * amortized across an epoch's consumer family; for this single
    * operator the residue is irreducible byte movement on one host's
    * disk — the shape a cluster's distributed storage bandwidth
    * absorbs (the SCALE_r12 reading, now twice-confirmed). */
  private def containmentFromSets(candidates: DataFrame, sets: DataFrame,
                                  tau: Double): DataFrame = {
    val s = shuffleHashIfBig(sets.select(col("id"), col("sh_arr"), col("n_sh")))
    val cand = candidates.repartition(graft.Par.widthFor(sets), col("id_a"))
    cand
      .join(s.as("sa"), col("id_a") === col("sa.id"))
      .join(s.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount(col("sa.sh_arr"), col("sb.sh_arr")))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / col("sa.n_sh")).as("c_ab"),
        (col("n_inter").cast("double") / col("sb.n_sh")).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= tau)
  }

  /** Benchmark-contamination check — the n-gram decontamination pass LLM
    * training pipelines run against eval sets (the 13-gram collision
    * filters described in public LM reports; here the n is a parameter):
    * for each corpus doc, the count of DISTINCT n-grams it shares with
    * any benchmark doc. Benchmarks are tiny relative to a training
    * corpus, so the benchmark's distinct shingle set broadcasts and the
    * corpus never shuffles — the whole check is scan + broadcast-semi
    * shape + one aggregation on the (already small) hit set. Set
    * `broadcastBench = false` for an unusually large benchmark side to
    * fall back to a shuffle equi-join on the shingle.
    * Returns (id, n_shared), one row per CONTAMINATED corpus doc.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    broadcastBench: Boolean = true): DataFrame = {
    val corpusGrams = shingles(corpus, idCol, textCol, n)
    val benchGrams = shingles(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val bench = if (broadcastBench) broadcast(benchGrams) else benchGrams
    // per-doc shingles are already distinct (ShingleArray dedupes), so the
    // per-id count IS the distinct shared-gram count
    corpusGrams.join(bench, Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** LSH banding: concatenate `rowsPerBand` consecutive signature
    * components per band; docs sharing any band key are candidate pairs.
    * The signatures are already uniform 60-bit hashes, so the joined
    * string needs no re-hashing to distribute across shuffle partitions.
    * Output: (id, band, bucket), one row per band.
    */
  def lshBuckets(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val comps = (1 to rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), concat_ws("|", comps: _*).as("bucket"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → signature → band →
    * bucket equi-join → verify candidates with true Jaccard ≥ threshold.
    * The verify step joins candidates back to shingles (semi-join shaped,
    * only candidate docs' shingles shuffle), so false-positive buckets are
    * filtered exactly, never trusted.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
                      maxBucket: Int = 1024): DataFrame = {
    val sets = persistedSets(docs, idCol, textCol, n)
    val candidates =
      minhashCandidatePairs(docs, idCol, textCol, n, k, rowsPerBand, maxBucket)
    // No distinct before verify: docs agreeing on several bands are
    // verified once per band (bounded by nBands) and the tiny verified
    // result is deduped instead — saves the candidate-table shuffle.
    jaccardFromSets(candidates, sets, threshold).distinct()
  }

  /** The persisted LSH bucket table (id, band, bucket) over a persisted
    * set table — signatures computed IN-ROW in a single codegen pass
    * (graft.functions.MinHashSigsFp: md5 once per shingle, all k mins
    * together), banded, then MATERIALIZED. This is the second dedup
    * artifact of a minhash deployment (alongside the shingle-set table):
    * the skew-guarded candidate generation below consumes the bucket
    * rows TWICE (the capped aggregation plus the overflowed-bucket
    * re-derivation), and the banding-eval row consumes the whole
    * candidate table twice more — without materialization every
    * consumer re-pays the per-shingle md5 signature pass, which profiled
    * as the r9 q_dedup_eval 2.3→5.0 s regression. Bounded at nBands
    * rows per doc. */
  private[graft] def persistedLshBuckets(sets: DataFrame, k: Int,
                                         rowsPerBand: Int): DataFrame = {
    val sigCols = (1 to k).map(i => element_at(col("__sigs"), i).as(s"sig_$i"))
    val sigs = sets
      .withColumn("__sigs", graft.functions.MinHashSigsFp(col("sh_arr"), k))
      .select(Seq(col("id"), col("n_sh")) ++ sigCols: _*)
      .filter(col("n_sh") > 0)
    graft.Caches.materialize(
      lshBuckets(sigs, k, rowsPerBand)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The raw LSH BANDING candidates of [[minhashLshPairs]], before exact
    * verification — one (id_a, id_b) row per agreeing band (not
    * distinct). Exposed separately so the banding stage itself can be
    * evaluated (precision/recall vs exact-Jaccard truth) — the knob
    * study behind choosing (k, rowsPerBand) for a corpus. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, k: Int, rowsPerBand: Int,
                            maxBucket: Int = 1024): DataFrame = {
    require(k <= 7, s"k=$k: h1 + k*h2 must stay below 2^63 (60-bit halves allow k <= 7)")
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    val sets = persistedSets(docs, idCol, textCol, n)
    val buckets = persistedLshBuckets(sets, k, rowsPerBand)
    // Candidates by grouping per (band, bucket) and expanding pairs
    // in-row — the pairs a bucket self-join would emit, at ONE shuffle
    // instead of two join sides plus an exchange. Bucket sizes are small
    // by LSH construction on natural corpora, but an ADVERSARIAL corpus
    // (thousands of byte-identical docs) puts every copy in one bucket,
    // and an uncapped collect_list would build that whole bucket as a
    // single row. SKEW GUARD fused into the aggregation: CappedCollect
    // keeps at most `maxBucket` ids per bucket (partial aggregation
    // bounds map output too) and flags overflow; overflowed buckets
    // re-derive their rows and stream through an equi-self-join. On a
    // well-behaved corpus the guard adds no work and the big branch is
    // an empty scan.
    val grouped = buckets
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollect(
        col("id"), lit(0L), lit(0), maxBucket).as("cc"))
    val smallPairs = grouped
      .filter(!col("cc.overflow") && size(col("cc.xs")) > 1)
      .select(explode(col("cc.xs")).as("a"), col("cc.xs").as("xs"))
      .select(col("a.id").as("id_a"), explode(col("xs")).as("b"))
      .select(col("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
    val bigKeys = grouped.filter(col("cc.overflow")).select(col("band"), col("bucket"))
    val big = buckets.join(broadcast(bigKeys), Seq("band", "bucket"), "left_semi")
    val bigPairs = big.as("ga")
      .join(big.as("gb"),
        col("ga.band") === col("gb.band") && col("ga.bucket") === col("gb.bucket") &&
          col("ga.id") < col("gb.id"))
      .select(col("ga.id").as("id_a"), col("gb.id").as("id_b"))
    smallPairs.union(bigPairs)
  }

  /** MINHASH ESTIMATOR CALIBRATION — the sketch-accuracy readout behind
    * choosing k: for every LSH candidate pair, the estimator
    * (matching signature components out of k — E[matches/k] = true
    * Jaccard, Broder 1997) is binned against the EXACT shingle Jaccard,
    * reporting per match-count bucket the pair count and the true-
    * Jaccard mean/min/max in exact integer permille. A well-calibrated
    * sketch shows mean_true ≈ 1000·matches/k per bucket; drift says the
    * double-hash family or k is wrong for the corpus.
    *
    * Scale shape: reuses the SAME persisted artifacts as the dedup
    * family (set table via [[persistedSets]], bucket table inside
    * [[minhashCandidatePairs]]) so an epoch pays them once; the
    * candidate table is dup-bounded, each pair costs one k-component
    * zip (in-row) and one [[graft.functions.SortedIntersectCount]]
    * merge walk; output is ≤ k+1 rows. Signature lookups ride the same
    * size-gated SHUFFLE_HASH discipline as the exact verify. */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int, rowsPerBand: Int): DataFrame = {
    val sets = persistedSets(docs, idCol, textCol, n)
    val sigs = sets.filter(col("n_sh") > 0)
      .select(col("id"), col("sh_arr"), col("n_sh"),
        graft.functions.MinHashSigsFp(col("sh_arr"), k).as("sigs"))
    val cand = minhashCandidatePairs(docs, idCol, textCol, n, k, rowsPerBand)
      .distinct()
      .repartition(graft.Par.widthFor(sets), col("id_a"))
    val s = shuffleHashIfBig(sigs)
    cand
      .join(s.as("ca"), col("id_a") === col("ca.id"))
      .join(s.as("cb"), col("id_b") === col("cb.id"))
      .select(
        aggregate(zip_with(col("ca.sigs"), col("cb.sigs"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("int").as("n_matches"),
        graft.functions.SortedIntersectCount(col("ca.sh_arr"), col("cb.sh_arr"))
          .as("ni"),
        col("ca.n_sh").as("na"), col("cb.n_sh").as("nb"))
      .select(col("n_matches"),
        expr("(1000 * ni) div (na + nb - ni)").as("jp"))
      .groupBy(col("n_matches"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jp")).as("sj"),
        min(col("jp")).as("min_true_permille"),
        max(col("jp")).as("max_true_permille"))
      .select(col("n_matches"), col("n_pairs"),
        expr("sj div n_pairs").as("mean_true_permille"),
        col("min_true_permille"), col("max_true_permille"))
  }

  /** Incremental MinHash near-dup — the daily-ingest form of
    * [[minhashLshPairs]]: only the NEW batch's signatures band-join the
    * existing corpus's, so the admission check costs O(batch), never
    * O(corpus²) — the near-dup analogue of [[incrementalExact]]. In a
    * deployment the store side reads the PERSISTED signature/bucket
    * table (built once, appended per batch — same artifact the
    * streaming admission path keeps); here both sides derive from their
    * doc frames. Returns (id_a = batch doc, id_b = store doc, jaccard ≥
    * threshold), exact-verified — banding is candidate generation only.
    */
  def incrementalMinhashNearDup(batch: DataFrame, store: DataFrame,
                                idCol: String, textCol: String,
                                n: Int, k: Int, rowsPerBand: Int,
                                threshold: Double,
                                maxBucket: Int = 1024): DataFrame = {
    require(k <= 7, s"k=$k: h1 + k*h2 must stay below 2^63 (60-bit halves allow k <= 7)")
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    // Persisted set tables: each side is consumed TWICE (signature build
    // here, exact verify below) — without materialization both corpora
    // re-scan per consumer. Same shared-cache shape as minhashLshPairs.
    // Bucket tables are persisted too (persistedLshBuckets): each side's
    // bucket rows feed both the capped aggregation and the overflow
    // branch, and the md5 signature pass must not run per consumer.
    val bSets = persistedSets(batch, idCol, textCol, n)
    val sSets = persistedSets(store, idCol, textCol, n)
    val bBuckets = persistedLshBuckets(bSets, k, rowsPerBand)
    val sBuckets = persistedLshBuckets(sSets, k, rowsPerBand)
    // Same skew guard as minhashCandidatePairs, two-sided form: the STORE
    // side (the unbounded one — it grows with the corpus while the batch
    // is a day's ingest) groups per (band, bucket) under CappedCollect, so
    // an adversarial batch/store (thousands of near-identical docs landing
    // in one bucket) never builds an unbounded per-group row. Non-overflow
    // buckets expand batch×store pairs in-row off the grouped table (ONE
    // shuffle); overflowed buckets re-derive their rows and stream through
    // the spilling equi-join. On a well-behaved corpus the big branch is
    // an empty scan.
    val grouped = sBuckets
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollect(
        col("id"), lit(0L), lit(0), maxBucket).as("cc"))
    val smallPairs = bBuckets
      .join(grouped.filter(!col("cc.overflow")), Seq("band", "bucket"))
      .select(col("id").as("id_a"), explode(col("cc.xs")).as("b"))
      .select(col("id_a"), col("b.id").as("id_b"))
    val bigKeys = grouped.filter(col("cc.overflow")).select(col("band"), col("bucket"))
    val bigPairs = bBuckets.join(broadcast(bigKeys), Seq("band", "bucket"), "left_semi").as("x")
      .join(sBuckets.join(broadcast(bigKeys), Seq("band", "bucket"), "left_semi").as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val cand = smallPairs.union(bigPairs)
    // verify once per agreeing band, dedupe the tiny verified result
    // (same trade as minhashLshPairs)
    jaccardFromSets(cand, bSets.union(sSets), threshold).distinct()
  }

  /** 16-bit SimHash over token frequency: bit j is the sign of
    * Σ_tokens (±1) where the vote is the parity of the j-th hex digit of
    * md5(token). Engine-portable (md5 + substring only) and one
    * shuffle (the per-doc group-by). Returns (id, simhash) with the hash
    * as a 16-char '0'/'1' string (portable across engines; reinterpret as
    * int for Hamming bucketing).
    */
  /** SimHash near-duplicate pairs within Hamming distance `maxDist`:
    * pigeonhole banding (split the 16 bits into maxDist+1 chunks — two
    * hashes within distance d MUST agree on at least one chunk), bucket
    * equi-join on (chunk, bits), then exact Hamming verification. The
    * classic Manku/Jain/Sarma WWW'07 structure; candidates are generated
    * by equi-join, never the n² cross product.
    * Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxDist.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int): DataFrame =
    simhashNearDupPairsFromSigs(simhash(docs, idCol, textCol), maxDist)

  /** Row-count estimate for a signature frame — catalog-stats first,
    * count() fallback — memoized per canonicalized plan so the banding
    * self-sizers don't re-count a shared artifact per consumer. The memo
    * is BYPASSED when the plan contains a LogicalRDD node (the root
    * shape of every foreachBatch micro-batch frame): those plans are
    * unique per batch, so a memo entry per call can never hit and would
    * grow the driver map — retaining each batch's canonicalized plan and
    * its RDD reference — for the lifetime of a stream. LogicalRDD also
    * carries no rowCount stat, so the count() runs either way there;
    * skipping the memo changes no work, it only stops the leak. */
  private def sigCount(sigs: DataFrame): Long = {
    def est: Long = sigs.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(sigs.count())
    val plan = sigs.queryExecution.logical
    val perBatch =
      plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    if (perBatch) est
    else graft.Caches.memo(("sig-n", plan.canonicalized))(est)
  }

  /** Same operator over a precomputed signature frame (id, simhash) —
    * the shape to use when the corpus signature table is already
    * materialized (it is the shared persisted artifact every simhash
    * consumer reads; recomputing it per operator would re-scan the
    * corpus). */
  def simhashNearDupPairsFromSigs(sigs: DataFrame, maxDist: Int,
                                  maxExpectedCandidates: Long = 1L << 22): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"maxDist=$maxDist out of range 0..15")
    // SIZE FENCE: this 16-bit shape's candidate volume is quadratic in
    // the corpus, so its safe bound is enforced here, not only stated
    // (measured on identical data at ×100 corpus: 162× wall here against
    // 7.54× for the auto-banded 64-bit shape, SCALE_r13.txt study 1).
    // It is estimate-first like the 64-bit path's sizing: expected
    // bucket-join candidates under uniform hashing are
    // (maxDist+1)·n²/2^(w+1) for the narrowest chunk width
    // w = ⌊16/(maxDist+1)⌋ — THE quantity that goes quadratic. The
    // default cap (2^22 ≈ 4.2M candidates, ≲1 s of XOR-popcount verify
    // per 32 cores) admits every gate/bench corpus (500 docs → 12k
    // candidates; 5 000 → 1.2M at maxDist=2) and refuses the measured
    // pathological point (50 000 → 117M) with a message naming the
    // production path. Corpora past the fence carry 64-bit signatures
    // and use [[simhash64NearDupPairsFromSigs]], whose band width sizes
    // itself to log₂ n. A DISABLED fence (Long.MaxValue — the
    // signature-contracted cluster paths, whose node set the 2^16 space
    // bounds) skips the row-count estimate entirely: the 16-bit chunk
    // layout does not depend on n, so the estimate's only consumer is
    // the fence require, and on per-micro-batch LogicalRDD frames the
    // estimate is a full count() job a stream would pay per batch for
    // an un-failable check.
    if (maxExpectedCandidates != Long.MaxValue) {
      val n = sigCount(sigs)
      val minWidth = 16 / (maxDist + 1)
      val expectedCandidates =
        (maxDist + 1).toDouble * n.toDouble * n.toDouble / math.pow(2.0, minWidth + 1)
      require(expectedCandidates <= maxExpectedCandidates.toDouble,
        f"simhashNearDupPairsFromSigs: corpus n=$n%d at maxDist=$maxDist%d implies " +
          f"~$expectedCandidates%.0f expected bucket-join candidates (> fence " +
          f"$maxExpectedCandidates%d); the 16-bit signature width is a teaching " +
          "shape whose candidate volume is quadratic past it (measured 162x at " +
          "x100, SCALE_r13 study 1). Build 64-bit signatures (Dedup.simhash64) " +
          "and use simhash64NearDupPairsFromSigs, whose band width self-sizes.")
    }
    // integer form of the hash: Hamming distance is one XOR + popcount
    // per candidate instead of 16 string comparisons
    val sim = sigs.withColumn("v", conv(col("simhash"), 2, 10).cast("long"))
    val bounds = chunkBounds(16, maxDist + 1)
    val chunks = bounds.zipWithIndex.map { case ((start, len), i) =>
      struct(lit(i).as("chunk"), substring(col("simhash"), start, len).as("bits"))
    }
    val buckets = sim.select(col("id"), col("v"),
      explode(array(chunks: _*)).as("cb"))
      .select(col("id"), col("v"), col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    // Pair expansion via bucket equi-SELF-JOIN, deliberately NOT the
    // collect_list-per-group shape used for LSH buckets: the simhash chunk
    // keyspace is FIXED and tiny (a (maxDist+1)-way split of 16 bits gives
    // at most 2^6 = 64 distinct values per chunk), so each group holds
    // ~N/keyspace of the corpus and any per-group array would be a
    // single-task OOM at scale. The join's buffered side spills to disk
    // (ExternalAppendOnlyUnsafeRowArray), so a giant bucket streams
    // through in bounded memory; both sides hash-partition on
    // (chunk, bits) and emit the identical pair set.
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.v ^ b.v)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Production band width for the 64-bit simhash:
    * clamp(⌈log₂ n⌉, 14, ⌊64/(maxDist+1)⌋).
    * Holding expected in-bucket collisions ~constant needs band width
    * ≈ log₂ n bits (n/2^w docs share a bucket value in expectation —
    * the `Vectors.bitsFor` law applied to Hamming banding); the CAP is
    * the pigeonhole bound (two hashes within distance d must agree on
    * one of ⌈64/w⌉ chunks only when ⌈64/w⌉ ≥ d+1), and past it the
    * deploy answer is a wider signature, not a wider band. The FLOOR is
    * calibrated like bitsFor's: every oracle-gate corpus (500 docs at
    * each gate SF) lands on it, so the gated chunk layout is static
    * while any real corpus (≥ 2¹⁴ docs) sizes itself. */
  def simhash64BandWidth(n: Long, maxDist: Int): Int = {
    require(maxDist >= 0 && maxDist < 8, s"maxDist=$maxDist out of range 0..7")
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L) - 1L)
    math.min(64 / (maxDist + 1), math.max(14, ceilLog2))
  }

  /** 64-bit near-dup pairs: identical pigeonhole-band + bucket
    * equi-self-join + exact-Hamming-verify structure as the 16-bit
    * [[simhashNearDupPairsFromSigs]], with the band width derived from
    * the corpus size ([[simhash64BandWidth]]; the estimate-first,
    * memoized-count-fallback sizing of `Vectors.bitsFor`). Two
    * differences forced by the width: the Hamming verify runs on hi/lo
    * 32-bit halves (a 64-bit value with the sign bit set does not
    * survive conv()'s decimal round-trip; two halves always do), and
    * the chunk keyspace is 2^~log₂n rather than 2^5 — so in-bucket
    * candidates stay ~linear in n BY CONSTRUCTION instead of by the
    * teaching corpus being small.
    * Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxDist. */
  def simhash64NearDupPairsFromSigs(sigs: DataFrame, maxDist: Int): DataFrame = {
    val n = sigCount(sigs)
    val width = simhash64BandWidth(n, maxDist)
    val bounds = chunkBounds(64, (64 + width - 1) / width)
    val withHalves = sigs
      .withColumn("hi", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("lo", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
    val chunks = bounds.zipWithIndex.map { case ((start, len), i) =>
      struct(lit(i).as("chunk"), substring(col("simhash"), start, len).as("bits"))
    }
    val buckets = withHalves.select(col("id"), col("hi"), col("lo"),
      explode(array(chunks: _*)).as("cb"))
      .select(col("id"), col("hi"), col("lo"),
        col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (expr("bit_count(a.hi ^ b.hi)") + expr("bit_count(a.lo ^ b.lo)"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** 64-bit signature build — pure narrow map, same shape as
    * [[simhash]] (graft.functions.SimHash64Fp). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.SimHash64Fp(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Match batch signatures against a persisted signature STORE — the
    * serving/ingest-side near-dup check. The store holds the DISTINCT
    * signatures ever admitted, which the 16-bit signature space bounds at
    * 2^16 rows REGARDLESS of corpus size — so the store side (and its
    * (maxDist+1)-chunk bucket expansion) always broadcasts, and the batch
    * side never shuffles. Returns the distinct batch `id`s having at
    * least one store signature within Hamming `maxDist`.
    */
  def simhashStoreMatches(batchSigs: DataFrame, storeSigs: DataFrame,
                          maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"maxDist=$maxDist out of range 0..15")
    val bounds = chunkBounds(16, maxDist + 1)
    def chunks = bounds.zipWithIndex.map { case ((start, len), i) =>
      struct(lit(i).as("chunk"), substring(col("simhash"), start, len).as("bits"))
    }
    val batchB = batchSigs
      .withColumn("v", conv(col("simhash"), 2, 10).cast("long"))
      .select(col("id"), col("v"), explode(array(chunks: _*)).as("cb"))
      .select(col("id"), col("v"), col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    val storeB = storeSigs.select(col("simhash")).distinct()
      .withColumn("sv", conv(col("simhash"), 2, 10).cast("long"))
      .select(col("sv"), explode(array(chunks: _*)).as("cb"))
      .select(col("sv"), col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    batchB.as("a")
      .join(broadcast(storeB.as("b")), Seq("chunk", "bits"))
      .filter(expr("bit_count(v ^ sv)") <= maxDist)
      .select(col("id")).distinct()
  }

  /** 64-bit store match for the BOUNDED signature store: the distinct
    * batch `id`s having at least one store signature within Hamming
    * `maxDist`. Unlike the 16-bit [[simhashStoreMatches]] (whose store
    * the signature space itself bounds at 2^16 rows → always broadcast),
    * a 64-bit store is bounded only by the admission CAPACITY a
    * deployment chooses — possibly far past broadcast range — so the
    * bucket match is a plain equi-JOIN on (chunk, bits): both sides
    * hash-partition on the band key, the store side moves at most
    * ~capacity·(chunks) rows, and AQE broadcasts it when it is in fact
    * small. Band width sizes to the CAPACITY (the store's steady-state
    * population, the quantity that controls expected bucket collisions),
    * not the batch or the corpus, so a deployment's chunk layout is
    * static and the store could even be kept pre-bucketed. */
  def simhash64StoreMatches(batchSigs: DataFrame, storeSigs: DataFrame,
                            maxDist: Int, capacity: Long): DataFrame = {
    require(maxDist >= 0 && maxDist < 8, s"maxDist=$maxDist out of range 0..7")
    val width = simhash64BandWidth(math.max(capacity, 1L), maxDist)
    val bounds = chunkBounds(64, (64 + width - 1) / width)
    def chunks = bounds.zipWithIndex.map { case ((start, len), i) =>
      struct(lit(i).as("chunk"), substring(col("simhash"), start, len).as("bits"))
    }
    val batchB = batchSigs
      .withColumn("hi", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("lo", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
      .select(col("id"), col("hi"), col("lo"), explode(array(chunks: _*)).as("cb"))
      .select(col("id"), col("hi"), col("lo"),
        col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    val storeB = storeSigs.select(col("simhash")).distinct()
      .withColumn("shi", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("slo", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
      .select(col("shi"), col("slo"), explode(array(chunks: _*)).as("cb"))
      .select(col("shi"), col("slo"),
        col("cb.chunk").as("chunk"), col("cb.bits").as("bits"))
    batchB.join(storeB, Seq("chunk", "bits"))
      .filter((expr("bit_count(hi ^ shi)") + expr("bit_count(lo ^ slo)")) <= maxDist)
      .select(col("id")).distinct()
  }

  /** Duplicate-CLUSTER resolution: connected components over an
    * undirected pair list (id_a, id_b) — the step that turns any near-dup
    * operator's pair output into per-document keep/drop decisions.
    * Iterative min-label propagation (the classic MapReduce-style CC
    * formulation — Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — no graph library needed): every node starts
    * labeled with its own id and each round takes the min of its own and
    * its neighbors' labels, converging to the component minimum in
    * O(graph diameter) rounds. Near-dup graphs are dense clusters with
    * tiny diameter (identical docs form cliques), so a handful of rounds
    * suffices; each round is ONE equi-join + ONE aggregation, both
    * shuffle-partitioned on the node id, and intermediate label frames
    * are unpersisted as soon as they are superseded — the iteration holds
    * exactly one labels table and one edge table in cache regardless of
    * round count.
    * Returns (id, cluster_id) for every pair endpoint, cluster_id = the
    * component's minimum id. Throws if `maxIter` rounds don't converge
    * (raise it for pathological long-chain graphs).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(lvl)
    // Every round MUST truncate lineage (localCheckpoint → LogicalRDD
    // leaf): chaining round N's plan onto round N-1's re-optimizes an
    // ever-deeper tree each iteration and OOMs the DRIVER long before the
    // data is a problem. Checkpointed round outputs are executor-cached;
    // superseded rounds become unreferenced and the ContextCleaner
    // reclaims them, so the loop holds one labels table + one edge table
    // regardless of round count.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor-min step: label(v) ← min(label(v), min over neighbors)
      val nmin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(min(col("cluster_id")).as("nmin"))
      val stepped = labels.join(nmin, col("id") === col("src"), "left")
        .select(col("id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("mid"))
      // pointer-jump step: label(v) ← label(label(v)) against the freshly
      // stepped map — path-halving turns O(diameter) rounds into
      // O(log diameter), which is what makes long thin near-dup chains
      // converge in a handful of rounds
      val next = stepped.as("s")
        .join(stepped.select(col("id").as("lid"), col("mid").as("lcl")).as("l"),
          col("s.mid") === col("l.lid"), "left")
        .select(col("s.id").as("id"),
          least(col("s.mid"), coalesce(col("l.lcl"), col("s.mid"))).as("cluster_id"),
          (least(col("s.mid"), coalesce(col("l.lcl"), col("s.mid"))) =!= col("s.prev")).as("chg"))
        .localCheckpoint(true)
      // probe reads the just-checkpointed cache and can stop at first hit
      converged = next.filter(col("chg")).isEmpty
      labels = next.select(col("id"), col("cluster_id"))
      iter += 1
    }
    edges.unpersist(false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** SimHash near-dup clusters end-to-end: every doc in a ≥2-doc
    * connected component of the Hamming-≤`maxDist` graph, labeled with
    * the component's minimum doc id. Identical-signature docs are
    * CONTRACTED first — one graph node per DISTINCT simhash — because
    * duplicate-heavy corpora concentrate into a few signatures: at the
    * test SF this turns 222k doc-pair edges into 4.9k hash-pair edges,
    * and at 100 TB it is the difference between iterating over the corpus
    * and iterating over the (bounded, 2^16 here) signature space. The
    * tiny contracted graph resolves by driver union-find under the
    * driver-collect bound ([[graft.Collect]]), else by
    * [[connectedComponents]]; labels expand back to docs with one join +
    * one aggregation.
    * Returns (id, cluster_id), cluster_id = min doc id in the component.
    */
  def simhashClusters(sigs: DataFrame, maxDist: Int): DataFrame = {
    val maxEdges = graft.Collect.maxRows(graft.Collect.EdgeBytes)
    // distinct signatures AS the node set: reuse the pair generator with
    // the signature string standing in for the node id
    val nodes = sigs.select(col("simhash")).distinct()
      .select(col("simhash").as("id"), col("simhash"))
    // The candidate-volume fence is DISABLED for this call: the fence
    // guards doc-level corpus inputs, whose candidate count grows
    // quadratically with corpus size — but this node set is the DISTINCT
    // signature table, bounded by the 2^16 signature space no matter the
    // corpus, so its candidate volume is bounded by construction
    // (≤ (maxDist+1)·2^32/2^(w+1) in the worst case) and the edge guard
    // below already decides collect vs distributed CC. Fencing here
    // would wrongly refuse dup-sparse corpora whose distinct-signature
    // count exceeds the fence's n at small maxDist — exactly the scale
    // the contraction exists to serve.
    val hashPairs = simhashNearDupPairsFromSigs(nodes, maxDist,
        maxExpectedCandidates = Long.MaxValue)
      .select(col("id_a"), col("id_b"))
    // The contracted graph is BOUNDED BY CONSTRUCTION — at most 2^16
    // nodes for a 16-bit simhash, regardless of corpus size — so its
    // components are resolved with driver-side union-find (micro-
    // seconds) instead of iterated Spark jobs whose per-round scheduling
    // constant dwarfs the data. The bound DRIFTS with the parameters:
    // widening maxDist blows up the per-node neighborhood (Σ_d C(16,d)
    // ≈ the whole 2^16 space at maxDist 15). So the ANALYTIC worst-case
    // edge count decides first, with no extra Spark action; when it is
    // over the driver-collect bound, the MEASURED pair count decides
    // (a micro-batch's graph of a few edges still collects), and only a
    // graph over the bound runs the distributed [[connectedComponents]].
    val worstCaseEdges: BigInt = {
      def choose16(d: Int): BigInt =
        (1 to d).map(i => BigInt(16 - i + 1)).product / (1 to d).map(BigInt(_)).product
      val neighborhood = (1 to maxDist).map(choose16).sum
      (BigInt(1) << 16) * neighborhood / 2
    }
    if (worstCaseEdges <= BigInt(maxEdges))
      // the contracted label table is 2^16-bounded → always broadcast
      expandClusterLabels(sigs, broadcast(unionFindComp(sigs.sparkSession, hashPairs.collect())))
    else clustersFromContractedPairs(sigs, hashPairs, maxEdges)
  }

  /** Driver union-find over a COLLECTED contracted pair table: the
    * (simhash, comp) label table of [[unionByMin]] as a driver-local
    * frame. Callers guarantee the collect is bounded (analytic 2^16
    * worst case or a measured pair count). */
  private def unionFindComp(spark: SparkSession, pairRows: Array[Row]): DataFrame = {
    val comp = unionByMin(pairRows.iterator.map(r => (r.getString(0), r.getString(1))))
    spark.createDataFrame(comp.map { case (k, c) => Row(k, c) }.toSeq.asJava,
      StructType(Seq("simhash", "comp").map(StructField(_, StringType))))
  }

  /** The one driver union-find: the components of the graph whose edges
    * are `pairs`, as each node seen in a pair mapped to its component's
    * root. Union-by-min keeps every root the component's minimum node
    * key; a node in no pair is its own root and has no entry. */
  private[graft] def unionByMin(pairs: IterableOnce[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) {
        parent(r) = parent(parent(r)); r = parent(r)
      }
      r
    }
    pairs.iterator.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Expand contracted component labels back to docs: isolated
    * signatures label themselves, one aggregation pins each component's
    * min doc id, rows only for ≥2-doc components. `comp` arrives
    * join-strategy-wrapped by the caller (broadcast for space-bounded
    * label tables, plain for corpus-dependent ones — AQE decides). */
  private def expandClusterLabels(sigs: DataFrame, comp: DataFrame): DataFrame = {
    val withComp = sigs
      .join(comp, Seq("simhash"), "left")
      .select(col("id"), coalesce(col("comp"), col("simhash")).as("comp"))
    val mins = withComp.groupBy(col("comp"))
      .agg(min(col("id")).as("cluster_id"), count(lit(1)).as("csize"))
    withComp.join(mins, Seq("comp"))
      .filter(col("csize") > 1)
      .select(col("id"), col("cluster_id"))
  }

  /** MEASURED-guard clustering core of [[simhashClusters]] and
    * [[simhash64Clusters]]: persist + count the contracted pair table
    * (the count doubles as its materialization for either branch),
    * driver union-find at or under `maxEdges`, distributed
    * [[connectedComponents]] above it. */
  private def clustersFromContractedPairs(sigs: DataFrame, pairs: DataFrame,
                                          maxEdges: Long): DataFrame = {
    val hashPairs = pairs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val small = hashPairs.count() <= maxEdges
    val comp =
      if (small)
        broadcast(unionFindComp(sigs.sparkSession, hashPairs.collect()))
      else
        connectedComponents(hashPairs)
          .select(col("id").as("simhash"), col("cluster_id").as("comp"))
    val out = expandClusterLabels(sigs, comp)
    hashPairs.unpersist(false)
    out
  }

  /** 64-bit sibling of [[simhashClusters]]: near-dup clusters over a
    * (id, simhash) frame with 64-char binary-string signatures,
    * signature-CONTRACTED (one node per distinct simhash) with the same
    * driver union-find fast path. One difference forced by the width:
    * the 16-bit analytic worst-case bound (2^16 · Σ C(16,d) / 2) has no
    * 64-bit analogue worth computing (the space is 2^64; the contracted
    * node count is corpus-dependent), so the collect is guarded by the
    * MEASURED pair count — the pair table is persisted, counted (the
    * count doubles as its materialization), and collected only when it
    * is under the driver-collect bound ([[graft.Collect]] at
    * [[graft.Collect.EdgeBytes]] per edge); otherwise the same contracted graph
    * runs the distributed [[connectedComponents]] with a plain (not
    * broadcast) label join. Designed for micro-batch-sized inputs
    * (streaming admission), where the contracted pair graph is small by
    * construction and the driver union-find replaces ~4 Spark jobs per
    * CC round with one bounded collect.
    * Returns (id, cluster_id), cluster_id = min doc id in the component,
    * rows only for docs in ≥2-doc components. */
  def simhash64Clusters(sigs: DataFrame, maxDist: Int): DataFrame = {
    val nodes = sigs.select(col("simhash")).distinct()
      .select(col("simhash").as("id"), col("simhash"))
    val pairs = simhash64NearDupPairsFromSigs(nodes, maxDist)
      .select(col("id_a"), col("id_b"))
    clustersFromContractedPairs(sigs, pairs,
      graft.Collect.maxRows(graft.Collect.EdgeBytes))
  }

  /** Duplicate-cluster REPRESENTATIVE selection by quality — "keep the
    * BEST duplicate, not the first": within each near-dup cluster, the
    * survivor is the member with the highest quality score (ties →
    * smallest id), not the arbitrary minimum id. This is the curation
    * step real pipelines run between cluster resolution and the dedup
    * apply — near-dup groups usually contain one clean original and N
    * boilerplate-wrapped copies, and min-id keeps a random one.
    *
    * Scale shape: one hash join of the (tiny) cluster table onto the
    * per-doc scores, then ONE map-side-combining aggregate per cluster.
    * The argmax is a plain integer `max` over the packed key
    * q_fp6·2³² + (2³²−1 − id) — totally ordered, so deterministic in
    * ANY engine (never `max_by`, whose tie order is unspecified).
    * Requires q_fp6 ∈ [0, 2³⁰) and id ∈ [0, 2³²) (checked at runtime:
    * out-of-range rows would silently corrupt the packed order).
    */
  def clusterRepresentatives(clusters: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    val two32 = 4294967296L
    val bad = col("q") < 0 || col("q") >= (two32 / 4) ||
      col("id") < 0 || col("id") >= two32
    val key = when(bad, raise_error(format_string(
        "clusterRepresentatives: packed-key range violated (need " +
          "0<=score<2^30, 0<=id<2^32), got score=%d id=%d",
        col("q"), col("id"))).cast("long"))
      .otherwise(col("q") * two32 + (lit(two32 - 1L) - col("id")))
    val packed = clusters.join(
        scored.select(col(idCol).as("id"), col(scoreCol).as("q")), Seq("id"))
      .select(col("cluster_id"), key.as("key"))
    packed.groupBy(col("cluster_id"))
      .agg(max(col("key")).as("mk"), count(lit(1)).as("n_docs"))
      .select(col("cluster_id"),
        (lit(two32 - 1L) - pmod(col("mk"), lit(two32))).as("best_id"),
        expr("mk div 4294967296").as("best_q_fp6"), col("n_docs"))
  }

  /** CONTENT-DEFINED CHUNKING (CDC) at word granularity — the
    * shift-resistant chunker (FastCDC/rsync lineage, applied to text
    * dedup by the SlimPajama-style pipelines): a chunk boundary falls
    * AFTER every token whose 60-bit md5 ≡ 0 (mod `avgTokens`), so
    * boundaries depend only on local content. Insert one sentence at the
    * top of a document and every chunk after it keeps its identity —
    * fixed-size chunking would shift every boundary and defeat
    * chunk-hash dedup.
    *
    * Scale shape: entirely IN-ROW — boundaries, slicing, and chunk
    * reassembly are array expressions over the tokens of one document
    * (linear: cut positions via one `filter` pass, chunk j rebuilt by
    * ONE `slice` between consecutive cuts — never a per-position
    * prefix re-scan), then a single `posexplode`. NO exchange at all:
    * the explode inherits the scan's partitioning, and CDC boundaries
    * never cross documents. The exploded-token window formulation this
    * replaces would shuffle the tokenized corpus twice (window by doc,
    * regroup by chunk).
    *
    * Returns (doc_id, chunk_id, n_tok, chunk_text, chunk_hash) — md5
    * chunk hashes feed cross-document chunk-level dedup.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgTokens: Int): DataFrame = {
    require(avgTokens >= 2, s"avgTokens=$avgTokens must be >= 2")
    def isCut(w: Column): Column =
      pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"),
        lit(avgTokens.toLong)) === 0L
    // Each intermediate array is STAGED as its own column so lambda
    // bodies reference attributes, not expression trees: splicing `ends`
    // into the per-element lambda would re-evaluate the whole
    // md5-filter pipeline PER CHUNK — O(chunks × tokens) digests per
    // document (measured 67s at sf0.1 vs <1s staged). CollapseProject
    // keeps the stage boundary: each alias is non-cheap and referenced
    // more than once downstream.
    val chunks = docs
      .select(col(idCol).as("doc_id"),
        graft.text.TextOps.tokens(col(textCol)).as("toks"))
      // 1-based positions whose token closes a chunk
      .select(col("doc_id"), col("toks"),
        filter(sequence(lit(1), size(col("toks"))),
          i => isCut(element_at(col("toks"), i))).as("cuts"))
      // a final boundary at n closes the tail unless n is already a cut
      .select(col("doc_id"), col("toks"),
        when(size(col("cuts")) > 0 &&
            element_at(col("cuts"), -1) === size(col("toks")), col("cuts"))
          .otherwise(concat(col("cuts"), array(size(col("toks")))))
          .as("ends"))
      .select(col("doc_id"), transform(col("ends"), (e, j) => {
        val prev = when(j === 0, lit(0)).otherwise(element_at(col("ends"), j))
        struct((e - prev).as("n_tok"),
          concat_ws(" ", slice(col("toks"), prev + 1, e - prev))
            .as("chunk_text"))
      }).as("cs"))
    // posexplode_OUTER + a post-Generate null filter, deliberately: with
    // a plain posexplode, InferFiltersFromGenerate adds
    // `size(cs)>0 AND isnotnull(cs)` and predicate pushdown then
    // re-inlines the ENTIRE chunker tree into a per-row Filter at the
    // scan (pushdown has no expensive-expression guard, unlike
    // CollapseProject) — measured 35s of the 39s at sf0.1. The rule
    // skips outer generates, and a filter on a GENERATED attribute can
    // never push below the Generate.
    chunks
      .select(col("doc_id"), posexplode_outer(col("cs")).as(Seq("chunk_id", "c")))
      .filter(col("c").isNotNull)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("c.n_tok").as("n_tok"), col("c.chunk_text").as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text")))
  }

  /** N-GRAM NOVELTY of a held-out split against the train split — the
    * memorization/generalization diagnostic (the inverse of
    * [[contamination]]): per test document, the fraction of its distinct
    * word n-grams that NEVER occur in train. A test set whose docs score
    * near zero novelty is effectively memorized training data and its
    * perplexity numbers are meaningless.
    *
    * Scale shape: both gram tables hash-partition on the shingle for
    * ONE equi-join — neither side broadcasts by construction (at corpus
    * scale both splits are huge; AQE may still broadcast a genuinely
    * small side at runtime); per-doc totals and hits are map-side-
    * combining aggregates. Per-doc grams are already distinct
    * (ShingleArray dedupes), so counts are distinct-gram counts.
    *
    * Returns (doc_id, n_grams, n_seen, novel_permille).
    */
  def ngramNovelty(test: DataFrame, train: DataFrame, idCol: String,
                   textCol: String, n: Int): DataFrame = {
    val testGrams = shingles(test, idCol, textCol, n)
    val trainGrams = shingles(train, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val totals = testGrams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val seen = testGrams.join(trainGrams, Seq("shingle"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_seen"))
    totals.join(seen, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novel_permille",
        expr("(n_grams - n_seen) * 1000 div n_grams"))
  }

  /** Incremental CDC-chunk ADMISSION — the ingest-side twin of
    * [[cdcChunks]]: the day's batch is chunked, each chunk checked
    * against the standing corpus's chunk-hash STORE, and a document is
    * admitted when at least `admitPermille`/1000 of its chunks are
    * novel — the boilerplate-resistant dedup gate (a page that is 90%
    * template + 10% new text is NOT novel, while shifted/extended
    * near-copies of old pages keep their old chunks' identities and get
    * rejected even though no exact doc fingerprint matches).
    *
    * Scale shape: the batch side is chunked in-row ([[cdcChunks]], zero
    * exchange) and is the SMALL side — it broadcasts into a hash join
    * against the store, so the (corpus-scale) store is scanned once and
    * never shuffled; the per-doc verdict is one map-side-combining
    * aggregate over the batch's chunk rows. Integer permille via `div`,
    * engine-exact.
    *
    * Returns (doc_id, n_chunks, n_dup, novel_permille, admit).
    */
  def incrementalCdcAdmit(batch: DataFrame, storeHashes: DataFrame,
                          idCol: String, textCol: String, avgTokens: Int,
                          admitPermille: Int,
                          broadcastBatch: Boolean = true): DataFrame = {
    require(admitPermille >= 0 && admitPermille <= 1000,
      s"admitPermille=$admitPermille out of [0, 1000]")
    val chunks = cdcChunks(batch, idCol, textCol, avgTokens)
    // The join is written store ⋈ broadcast(batch) — NOT batch LEFT JOIN
    // store: a left-outer join can only build (broadcast) its right
    // side, which would broadcast the corpus-scale store. This way the
    // store streams through one scan, the day's batch is the build side,
    // and each batch chunk row matches at most once (store hashes are
    // distinct). `broadcastBatch = false` drops the hint for
    // BACKFILL-sized batches (a month of re-ingest is not
    // driver-memory-sized) — the join then shuffles both sides on
    // chunk_hash instead of building a driver hash table.
    val chunkKeys = chunks.select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
    val buildSide = if (broadcastBatch) broadcast(chunkKeys) else chunkKeys
    val dups = storeHashes.select(col("chunk_hash")).distinct()
      .join(buildSide, Seq("chunk_hash"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("novel_permille",
        expr("(n_chunks - n_dup) * 1000 div n_chunks"))
      .withColumn("admit", col("novel_permille") >= admitPermille)
  }

  /** Even-ish split of `total` bit positions into `n` chunks:
    * (1-based start, length) per chunk; first `total % n` chunks get the
    * extra bit. */
  def chunkBounds(total: Int, n: Int): Seq[(Int, Int)] = {
    val base = total / n
    val extra = total % n
    val lens = (0 until n).map(i => base + (if (i < extra) 1 else 0))
    lens.scanLeft(1)(_ + _).zip(lens).map { case (start, len) => (start, len) }
  }

  /** Signature build as a pure NARROW map (graft.functions.SimHashFp):
    * one in-row pass per document — no token explode, no corpus-wide
    * shuffle. Bit-identical to [[simhashBuiltins]], the builtin
    * formulation the DuckDB oracle mirrors (spec-checked); the NULL
    * filter reproduces the builtin's explode dropping null-text docs. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.SimHashFp(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Exact-substring duplication report (the shingle-grain form of the
    * suffix-array substring dedup of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * public method): every k-token n-gram occurring MORE THAN ONCE in the
    * corpus (within- or cross-document) is a duplicated gram; per
    * document, overlapping/adjacent duplicated grams merge into maximal
    * spans. Output, one row per document that contains at least one
    * duplicated gram:
    * {{{ (id, n_dup_grams, n_spans, dup_tokens, n_tokens, dup_frac) }}}
    * where `dup_tokens` is the exact union length of the covered token
    * intervals and `dup_frac = dup_tokens / n_tokens` — the removal /
    * inspection signal a substring-dedup pass thresholds on.
    *
    * Scale shape: gram expansion is an in-row sequence→slice transform
    * (parallel with the scan, no shuffle); duplicated grams are found by
    * a partial-combining count aggregate on the 64-bit gram hash (a
    * collision can only over-count a gram as duplicated, never drop one;
    * at 2^-64 per pair this is the standard shingle-hash trade) and
    * joined back LEFT SEMI — deliberately a join, not a count window,
    * because a stop-gram's window partition must buffer in one task while
    * a skewed semi-join partition is streamed AND split by AQE skew
    * handling; span merging is one (id, position) window (per-DOC groups
    * — bounded by document length, not corpus frequency); the per-doc
    * rollup and the token-count join are key-aligned on id. Nothing
    * materializes a per-group array and no step is quadratic in corpus
    * size. At 100 TB the gram exchange carries ~tokens rows; that volume
    * (not memory) is the cost, identical to the suffix-array build it
    * replaces.
    */
  def dupNgramSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // position generator + slice/hash as ordinary codegen expressions —
    // the transform(sequence(...)) lambda formulation evaluated the
    // per-gram hash INTERPRETED (higher-order functions have no
    // doGenCode; same fix as the LM pair expansion)
    val grams = docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - (k - 1))).as("p"))
      .select(col("id"), col("p"),
        xxhash64(concat_ws(" ", slice(col("tk"), col("p"), lit(k)))).as("g"))
    val dupGrams = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("g"))
    val dup = grams.join(dupGrams, Seq("g"), "left_semi")
    val perDoc = Window.partitionBy(col("id")).orderBy(col("p"))
    val spans = dup
      .withColumn("nxt", lead(col("p"), 1).over(perDoc))
      .withColumn("prv", lag(col("p"), 1).over(perDoc))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_dup_grams"),
        sum(when(col("prv").isNull.or(col("p") - col("prv") > k), 1L)
          .otherwise(0L)).as("n_spans"),
        sum(when(col("nxt").isNull, lit(k))
          .otherwise(least(lit(k), col("nxt") - col("p"))).cast("long"))
          .as("dup_tokens"))
    docs.select(col(idCol).as("id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spans, Seq("id"))
      .select(col("id"), col("n_dup_grams"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_frac"))
  }

  /** The content-fingerprint store of a corpus — the persisted artifact
    * incremental ingest dedups against (one distinct md5 per unique
    * normalized text). Build once, append each admitted batch's prints. */
  def fingerprintStore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()

  /** Incremental (cross-batch) exact dedup — the daily-ingest posture:
    * admit only new-batch docs whose fingerprint is absent from the base
    * corpus's [[fingerprintStore]], keeping one survivor (min id, with
    * the batch-duplicate count for audit) per fingerprint WITHIN the
    * batch too. The base corpus is never re-read — only its store joins.
    * Scale shape: one fingerprint anti equi-join (shuffle-partitionable;
    * compose with a bloom pre-filter when the batch is tiny relative to
    * the store) + one batch-local aggregate. Returns (id, fp, batch_dups).
    */
  def incrementalExact(batch: DataFrame, store: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    batch.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(store.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("batch_dups"))
      .select(col("id"), col("fp"), col("batch_dups"))

  /** The explode + md5 + 16-conditional-sum group-by formulation of
    * [[simhash]] — kept as the spec-parity reference for SimHashFp (and
    * the shape the oracle SQL mirrors). */
  def simhashBuiltins(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val tok = explode(TextOps.tokens(col(textCol))).as("tok")
    val exploded = docs.select(col(idCol).as("id"), tok)
      .withColumn("h", md5(col("tok")))
    val bitSums = (1 to 16).map(j =>
      sum(when(substring(col("h"), j, 1).isin(oddHex: _*), 1).otherwise(-1)).as(s"b_$j"))
    exploded.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        concat((1 to 16).map(j => when(col(s"b_$j") > 0, lit("1")).otherwise(lit("0"))): _*)
          .as("simhash"))
  }
}
