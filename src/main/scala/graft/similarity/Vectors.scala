package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `array<float>` embedding column.
  *
  * Numeric strategy: components are quantized to fixed-point BIGINT
  * (×1e6, ~1e-6 quantization error — far below any ranking-relevant
  * signal). Dot products and norms are then EXACT integer sums, which
  * makes results (a) independent of summation order — safe under any
  * partitioning — and (b) bit-identical across engines, so the whole
  * top-k is oracle-verifiable. The final cosine is one double division of
  * exact integers (deterministic).
  *
  * Scale shape: brute-force is a broadcast of the (small) query set
  * against the corpus — one scan, no shuffle until the per-query top-k
  * (window over queryId, tiny). The LSH variant buckets by sign bits so
  * candidate generation is an equi-join on the bucket key.
  */
object Vectors {

  val Scale = 1000000L

  /** array<float> → array<bigint> fixed-point — native codegen kernel
    * (graft.functions.FixedPointFp); `fixedPointBuiltins` is the
    * portable Column formulation it is spec-checked against (the lambda
    * of a higher-order function evaluates interpreted per element). */
  def fixedPoint(v: Column): Column =
    graft.functions.FixedPointFp(v)

  private[graft] def fixedPointBuiltins(v: Column): Column =
    transform(v, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two fixed-point vectors — a native
    * codegen Expression (graft.functions.DotProductFp); the builtin
    * `aggregate(zip_with(...))` formulation is interpreted per element and
    * dominates pairwise similarity joins. */
  def dotFp(a: Column, b: Column): Column =
    graft.functions.DotProductFp(a, b)

  def normSqFp(a: Column): Column = dotFp(a, a)

  /** Cosine of two fixed-point vectors: exact-int dot / (√nx·√ny).
    * sqrt of each norm separately — nx*ny would overflow BIGINT.
    * NULL (not NaN) when either vector has zero magnitude — NaN sorts
    * ABOVE all doubles in Spark and would rank zero vectors first.
    */
  def cosineFp(a: Column, b: Column): Column =
    cosineFromNorms(a, b, normSqFp(a), normSqFp(b))

  /** Cosine with the norms precomputed once per vector (they are reused
    * across every pair the vector participates in — at corpus scale this
    * saves an O(d) pass per comparison). */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0,
      dotFp(a, b).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))

  /** Per-query final ranking of a (query_id, match_id, cosine) candidate
    * table through the BOUNDED [[graft.functions.TopKByScore]] aggregate
    * (same (score DESC, id ASC) contract as the window formulation it
    * replaces): a window partitioned by query_id is one query's WHOLE
    * candidate set — the full corpus for brute force, the probed lists
    * for IVF, the bucket for LSH — buffered and sorted by a single task;
    * the aggregate trims each map task to k rows per query before the
    * shuffle, so the exchange moves O(queries·k) rows at any corpus
    * size. Every ANN/dense retriever's last stage funnels through here.
    * (The centroid-selection windows stay windows: their partitions are
    * bounded by nCentroids, not the corpus.) */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore(col("cosine"), col("match_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("query_id"), col("p.id").as("match_id"),
        col("p.score").as("cosine"), (col("i") + 1).cast("int").as("rank"))

  /** Brute-force cosine top-k: every query (broadcast) against the full
    * corpus; rank per query by (cosine DESC, id ASC) — total order, so
    * deterministic under ties. Zero-magnitude vectors never match.
    * Final ranking through [[rankTopK]] — O(queries·k) shuffle rows. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), fixedPoint(col(vecCol)).as("qv"))
      .withColumn("qn", normSqFp(col("qv"))))
    val c = corpus
      .select(col(idCol).as("match_id"), fixedPoint(col(vecCol)).as("cv"))
      .withColumn("cn", normSqFp(col("cv")))
    val scored = c.join(q, col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** Sign-LSH bucket key: the first `bits` components' sign bits as a
    * '0'/'1' string. With unit-ish random embeddings this partitions the
    * corpus into 2^bits buckets; near neighbors land in the same bucket
    * with high probability (random-hyperplane LSH specialized to axis
    * hyperplanes — swap in seeded random projections for production).
    */
  def signBucket(v: Column, bits: Int): Column =
    concat((0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** Sentinel for `bits` parameters: resolve the width from the corpus
    * cardinality via [[bitsFor]] instead of a hand-set knob. */
  val AutoBits: Int = 0

  /** Data-sized sign-LSH width — the [[graft.Par.widthFor]] precedent
    * applied to the Σ|bucket|² law. The scoring work of every bucketed
    * consumer (kNN graph, near-dup pairs, LSH top-k) is the sum of
    * squared bucket occupancies, so a FIXED width turns a ×N corpus into
    * ×N² in-bucket candidate pairs (the round-11 ×10 scale study measured
    * exactly that: kNN graph 15–21×, SemDeDup 16× at bits=4, restored to
    * ~1.3× at bits + ⌈log₂N⌉). Holding average occupancy constant needs
    * bits ≈ log₂(n) − const; the constant is calibrated so the bench
    * corpus (2 000 vectors at sf0.1) reproduces the long-standing bits=4
    * behavior: bits = clamp(⌈log₂ n⌉ − 7, 4, 24), i.e. ~2⁷ = 128 vectors
    * per bucket once past the floor, giving ~128·n total candidates —
    * linear in the corpus. The cap guards the multi-probe expansion
    * (bits + 1 probe keys per query) and the 2^bits key-space blowup.
    *
    * n comes from the optimizer row-count estimate when the plan carries
    * one (local relations, loaded caches) and otherwise from a memoized
    * count — a zero-column parquet count is row-group-footer metadata
    * work, and the result only feeds a log₂, so any estimate within a
    * few × of truth lands on the same width. Memoized per canonical
    * input plan ([[graft.Caches.memo]]), so repeat consumers in one
    * epoch pay zero extra actions. */
  def bitsFor(vectors: DataFrame): Int = bitsForCount(
    graft.Caches.memo(
      ("lsh-bits-n", vectors.queryExecution.logical.canonicalized)) {
      vectors.queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong)
        .getOrElse(vectors.count())
    })

  /** The pure width rule of [[bitsFor]]: clamp(⌈log₂ n⌉ − 7, 4, 24). */
  def bitsForCount(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L) - 1L)
    math.min(24, math.max(4, ceilLog2 - 7))
  }

  /** [[AutoBits]] → [[bitsFor]] on the corpus; any explicit width passes
    * through unchanged (the explicit-width override). */
  private def resolveBits(corpus: DataFrame, bits: Int): Int =
    if (bits == AutoBits) bitsFor(corpus) else bits

  /** Bucketed ANN: score only corpus vectors in the query's sign bucket —
    * candidate generation is an equi-join on the bucket key, so the work
    * is |bucket| per query instead of |corpus|. Recall < 1 by design;
    * raise `bits` for speed, lower for recall, or multi-probe by
    * expanding neighbor buckets.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = AutoBits): DataFrame = {
    val w = resolveBits(corpus, bits)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      fixedPoint(col(vecCol)).as("qv"), signBucket(col(vecCol), w).as("bucket"))
      .withColumn("qn", normSqFp(col("qv"))))
    val c = corpus.select(col(idCol).as("match_id"),
      fixedPoint(col(vecCol)).as("cv"), signBucket(col(vecCol), w).as("bucket"))
      .withColumn("cn", normSqFp(col("cv")))
    val scored = c.join(q, Seq("bucket")).filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** The query-side multi-probe set: the vector's own sign bucket plus
    * every Hamming-1 neighbor (each bit flipped once) — `bits + 1` keys.
    * A near neighbor that straddles one hyperplane (a sign bit the two
    * vectors disagree on) lands in exactly such a neighbor bucket, which
    * is the dominant LSH miss mode; probing them lifts recall at a
    * bounded (bits + 1)× candidate cost instead of the 2×-per-bit cost
    * of lowering `bits`. (Lv et al., VLDB'07 multi-probe LSH, specialized
    * to the sign family.) */
  def multiProbeBuckets(v: Column, bits: Int): Column =
    multiProbeBuckets(v, bits, radius = 1)

  /** Hamming-≤`radius` probe set: the vector's own sign bucket plus
    * every key within `radius` bit flips — Σ_{r≤radius} C(bits, r)
    * keys. Radius is THE recall knob under corpus growth (SCALE_r16
    * study 2: the bits ~ log₂ n width rule holds candidate cost
    * constant but per-neighbor co-bucket probability decays with every
    * added bit, so a recall TARGET at growing n grows the probe radius,
    * not the single-probe width — Lv et al. VLDB'07 generalized past
    * Hamming-1). Flip masks are enumerated at PLAN time (radius and
    * bits are plan constants), so the probe set is one literal-driven
    * array per query row — no UDF, no join. Guarded to radius ≤ 3,
    * bits ≤ 24 (the [[bitsFor]] ceiling — each probe key is a
    * per-flip-set nested concat/substring EXPRESSION, so a wide
    * explicit width would hand Catalyst tens of thousands of nodes in
    * one array even where the key COUNT passes) and ≤ 2^16 keys: past
    * that the probe set stops being "a few buckets" and the deploy
    * answer is more tables ([[lshTopKMultiTable]] — L independent hash
    * sets), not a wider ball. */
  def multiProbeBuckets(v: Column, bits: Int, radius: Int): Column = {
    require(radius >= 0 && radius <= 3, s"radius=$radius out of range 0..3")
    require(bits <= 24,
      s"bits=$bits exceeds the 24-bit plan-time probe ceiling (the bitsFor " +
        "clamp): C(bits, r) flip-mask EXPRESSIONS are enumerated into one " +
        "array literal — use more index tables, not a wider width")
    val nKeys = (0 to radius).map(r =>
      (1 to r).map(i => BigInt(bits - i + 1)).product /
        (1 to r).map(BigInt(_)).product).sum
    require(nKeys <= (BigInt(1) << 16),
      s"probe set of $nKeys keys at bits=$bits radius=$radius — use more " +
        "index tables instead of a wider probe ball")
    val base = signBucket(v, bits)
    def flipSets(r: Int): Seq[Seq[Int]] =
      if (r == 0) Seq(Seq.empty)
      else (0 until bits).combinations(r).map(_.toSeq).toSeq
    val probes = (0 to radius).flatMap(flipSets).map { idxs =>
      idxs.foldLeft(base) { (b, i) =>
        val flipped = when(substring(b, i + 1, 1) === "1", lit("0")).otherwise(lit("1"))
        concat(substring(b, 1, i), flipped, substring(b, i + 2, bits - i - 1))
      }
    }
    array(probes: _*)
  }

  /** [[lshTopK]] with Hamming-≤`radius` multi-probe on the QUERY side
    * only: the corpus keeps one row per vector (its own bucket — the
    * index layout is unchanged, and because the probe keys are distinct
    * each (query, corpus) pair joins at most once, so no candidate
    * dedup is needed); each query expands to Σ_{r≤radius} C(bits, r)
    * probe keys (`bits + 1` at the default radius 1) before the same
    * equi-join. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, bits: Int = AutoBits,
                        radius: Int = 1): DataFrame = {
    val w = resolveBits(corpus, bits)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      fixedPoint(col(vecCol)).as("qv"),
      explode(multiProbeBuckets(col(vecCol), w, radius)).as("bucket"))
      .withColumn("qn", normSqFp(col("qv"))))
    val c = corpus.select(col(idCol).as("match_id"),
      fixedPoint(col(vecCol)).as("cv"), signBucket(col(vecCol), w).as("bucket"))
      .withColumn("cn", normSqFp(col("cv")))
    val scored = c.join(q, Seq("bucket")).filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** Sign bucket over components [offset, offset + bits) — the bank a
    * multi-table index gives table ℓ (offset = ℓ·bits): axis-disjoint
    * hyperplane sets are independent in exactly the sign-LSH sense, the
    * axis-hyperplane simplification [[signBucket]] already documents
    * (production swaps in seeded random projections; the TABLE structure
    * is identical). `element_at` past the vector's length yields null →
    * '0' SILENTLY, so callers must validate offset + bits ≤ dim — see
    * [[lshTopKMultiTable]]'s dimension check. */
  private def signBucketAt(v: Column, bits: Int, offset: Int): Column =
    concat((0 until bits).map(i =>
      when(element_at(v, offset + i + 1) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** L INDEPENDENT LSH tables (r16 verdict item 5 — the deploy route the
    * radius guard's error message names for past-radius-3 recall
    * targets): table ℓ hashes with its own disjoint hyperplane bank
    * ([[signBucketAt]] at offset ℓ·bits), candidates are the UNION of
    * the query's bucket across all L tables, deduped per (query, match)
    * pair before the shared [[rankTopK]]. Table 0 is bit-identical to
    * the single-table [[lshTopK]] bank, so the candidate set is a
    * SUPERSET of single-table's and recall is structurally ≥ at equal
    * width (recall is monotone under candidate inclusion — a displacing
    * higher-cosine candidate is itself a truth member).
    *
    * Cost model vs the probe ball: L tables cost L·|bucket| candidates
    * and ×L index rows; Hamming-≤r probing costs C(bits, r)·|bucket|
    * candidates on ×1 index rows. At radius ≤ 3 the ball is cheaper
    * (C(24,3) ≈ 2k probes max, no index duplication); past it the ball's
    * key count explodes combinatorially while L stays a small linear
    * knob — Lv VLDB'07's trade, both ends now implemented.
    *
    * Scale shape: the corpus side explodes to ×L rows (the L-table index
    * IS ×L storage — the standard LSH memory/recall trade), the join is
    * an equi-join on (table, bucket) with the model-sized query side
    * broadcast, and the pair dedup + top-k move O(candidates) and
    * O(queries·k) rows. One dimension-check action at plan time (first
    * non-null vector), mirroring [[bitsFor]]'s count posture. */
  def lshTopKMultiTable(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, bits: Int = AutoBits,
                        tables: Int = 2): DataFrame = {
    val w = resolveBits(corpus, bits)
    require(tables >= 1 && tables <= 16, s"tables=$tables out of range 1..16")
    // BOTH sides are validated (review finding: a shorter QUERY vector
    // would silently hash its out-of-range components to '0' bits and
    // land in wrong buckets for every table past its dimension budget)
    def dimOf(df: DataFrame, side: String): Int = {
      val row = df.select(col(vecCol)).filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect()
      require(row.nonEmpty, s"$side has no non-null $vecCol vectors — " +
        "cannot validate the table banks' dimension budget")
      row.head.getInt(0)
    }
    val dim = math.min(dimOf(corpus, "corpus"), dimOf(queries, "queries"))
    require(tables * w <= dim,
      s"$tables tables of $w bits need ${tables * w} components but the " +
        s"embedding has $dim — element_at past the end would silently " +
        "hash to '0' bits; lower the width or the table count")
    def banks(v: Column): Column = array((0 until tables).map(l =>
      struct(lit(l).as("tbl"), signBucketAt(v, w, l * w).as("bucket"))): _*)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      fixedPoint(col(vecCol)).as("qv"), explode(banks(col(vecCol))).as("tb"))
      .select(col("query_id"), col("qv"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
      .withColumn("qn", normSqFp(col("qv"))))
    val c = corpus.select(col(idCol).as("match_id"),
      fixedPoint(col(vecCol)).as("cv"), explode(banks(col(vecCol))).as("tb"))
      .select(col("match_id"), col("cv"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
      .withColumn("cn", normSqFp(col("cv")))
    val scored = c.join(q, Seq("tbl", "bucket"))
      .filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
      // one (query, match) pair can co-bucket in several tables; dedup
      // before top-k or a duplicate would occupy multiple rank slots
      .dropDuplicates("query_id", "match_id")
    rankTopK(scored, k)
  }

  /** IVF-style ANN (inverted-file): assign every corpus vector to its
    * nearest of `nCentroids` centroid vectors (the "coarse quantizer" —
    * here seeded deterministically from the first `nCentroids` corpus ids
    * instead of trained k-means, keeping the whole structure
    * oracle-verifiable), then answer each query by scanning only the
    * `nProbe` centroid lists closest to the query. Build = one broadcast
    * join + argmax (centroids are tiny); probe = equi-join on the list id
    * — the classic IVF shape where per-query work is |corpus|·nProbe/
    * nCentroids instead of |corpus|.
    *
    * Assignment ranks by (cosine DESC, centroid id ASC) — total order, so
    * list membership is deterministic; zero-magnitude vectors are
    * excluded (no meaningful direction to assign).
    */
  /** Corpus-side IVF inverted lists: every vector assigned to its nearest
    * centroid (cosine DESC, centroid id ASC tie-break) through ONE in-row
    * argmax — `array_max` over `transform` of a broadcast array of
    * centroid structs. The assignment plan is scan → project: NO shuffle,
    * NO window, and the nCentroids× row blow-up of a crossJoin+rank
    * formulation never materializes, so the index build scales linearly
    * with the corpus. (The single transform lambda keeps one copy of the
    * dot-product subtree in the expression DAG — unlike a chained
    * when/greatest argmax, which embeds it O(n²) times.) Centroids — the
    * coarse quantizer — are tiny by design; IVF keeps them resident.
    * Returns (cent_id, c_id, c_v, c_n); zero-magnitude vectors excluded.
    */
  def ivfLists(corpus: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int): DataFrame = {
    val cents = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cent_id"), fixedPoint(col(vecCol)).as("cent_v"))
      .withColumn("cent_n", normSqFp(col("cent_v")))
      .filter(col("cent_n") > 0)
    val centArr = cents
      .agg(collect_list(struct(col("cent_id"), col("cent_v"), col("cent_n"))).as("cs"))
    val v = corpus.select(col(idCol).as("c_id"), fixedPoint(col(vecCol)).as("c_v"))
      .withColumn("c_n", normSqFp(col("c_v")))
      .filter(col("c_n") > 0)
    v.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cs"), c =>
        struct(
          cosineFromNorms(col("c_v"), c.getField("cent_v"), col("c_n"), c.getField("cent_n"))
            .as("cos"),
          (-c.getField("cent_id")).as("neg_id")))))
      // array_max over an EMPTY centroid set (every id < nCentroids vector
      // absent or zero-norm) is NULL — drop such rows so the contract stays
      // "every output row belongs to a real list".
      .filter(col("best").isNotNull)
      .select((-col("best.neg_id")).as("cent_id"), col("c_id"), col("c_v"), col("c_n"))
  }

  /** Deterministic Lloyd-iteration k-means over the fixed-point vectors —
    * the TRAINED coarse quantizer alternative to the id-seeded one.
    * Everything that could introduce nondeterminism is pinned down:
    *   - init = the id-seeded centroids (first k non-zero-norm ids),
    *   - assignment = the same (cosine DESC, cent_id ASC) in-row argmax
    *     as [[ivfLists]] (cosine is scale-invariant, so the unnormalized
    *     integer mean below is a valid spherical-k-means representative),
    *   - update = component-wise INTEGER mean (sum of fixed-point longs
    *     / count — order-independent exact arithmetic, no float drift),
    *   - empty clusters keep their previous centroid.
    * The update aggregation is the classic distributed k-means shape:
    * posexplode components → groupBy (centroid, position) with map-side
    * partial sums — k·d result rows per round regardless of corpus size;
    * the k·d centroid matrix rides to the driver and back as a broadcast
    * literal (the same bounded-small-side reasoning as [[ivfLists]]).
    * Returns (cent_id, cent_v, cent_n) like the seeded quantizer.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k, iters=$iters out of range")
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("c_id"), fixedPoint(col(vecCol)).as("c_v"))
      .withColumn("c_n", normSqFp(col("c_v")))
      .filter(col("c_n") > 0)
    // the training table is re-consumed once per Lloyd iteration — pin it
    // so each round's assignment job reads the projected vectors, not the
    // source scan again (at scale: one corpus pass total, not per round)
    if (iters > 0) { v.persist(); v.count() }
    // deterministic init: the k smallest-id non-zero vectors
    var cents: Array[(Long, Array[Long])] = v
      .orderBy(col("c_id")).limit(k)
      .select(col("c_id"), col("c_v")).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) }
    import spark.implicits._
    var it = 0
    while (it < iters) {
      // centroids ride as broadcast DATA (1-row collected-struct frame),
      // not as a k·d literal tree: a literal array of 512+ longs makes
      // every iteration a brand-new plan — re-analyzed, re-canonicalized
      // and re-codegen'd each time — whereas this shape is constant
      // across iterations and passes, so the codegen cache hits
      val centDf = cents.toSeq
        .map { case (cid, cv) => (cid, cv.toSeq, cv.map(x => x * x).sum) }
        .toDF("cent_id", "cent_v", "cent_n")
      val centArr = centDf
        .agg(collect_list(struct(col("cent_id"), col("cent_v"), col("cent_n"))).as("cs"))
      val assigned = v.crossJoin(broadcast(centArr))
        .withColumn("best", array_max(transform(col("cs"), c =>
          struct(
            cosineFromNorms(col("c_v"), c.getField("cent_v"), col("c_n"), c.getField("cent_n"))
              .as("cos"),
            (-c.getField("cent_id")).as("neg_id")))))
        .filter(col("best").isNotNull)
        .select((-col("best.neg_id")).as("cent_id"), col("c_v"))
      // the update keeps each vector IN ROW through the aggregate
      // (ArraySumFp) — posexplode would push d× the rows through the
      // partial hash map and shuffle a d×-larger group space
      val sums = assigned
        .groupBy(col("cent_id"))
        .agg(graft.functions.ArraySumFp(col("c_v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCent = sums.map(r =>
        (r.getLong(0), (r.getSeq[Long](1), r.getLong(2)))).toMap
      cents = cents.map { case (cid, prev) =>
        byCent.get(cid) match {
          case Some((s, n)) => (cid, s.map(_ / n).toArray) // exact int mean
          case None => (cid, prev) // empty cluster: keep previous centroid
        }
      }
      it += 1
    }
    if (iters > 0) v.unpersist(false)
    import spark.implicits._
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cent_id", "cent_v")
      .withColumn("cent_n", normSqFp(col("cent_v")))
      .filter(col("cent_n") > 0)
  }

  /** [[ivfLists]] against an explicit centroid frame (cent_id, cent_v,
    * cent_n) — the seam that lets the trained quantizer drop in for the
    * id-seeded one without changing the build's narrow scan shape. */
  def ivfListsWith(corpus: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame): DataFrame = {
    val centArr = cents
      .agg(collect_list(struct(col("cent_id"), col("cent_v"), col("cent_n"))).as("cs"))
    val v = corpus.select(col(idCol).as("c_id"), fixedPoint(col(vecCol)).as("c_v"))
      .withColumn("c_n", normSqFp(col("c_v")))
      .filter(col("c_n") > 0)
    v.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cs"), c =>
        struct(
          cosineFromNorms(col("c_v"), c.getField("cent_v"), col("c_n"), c.getField("cent_n"))
            .as("cos"),
          (-c.getField("cent_id")).as("neg_id")))))
      .filter(col("best").isNotNull)
      .select((-col("best.neg_id")).as("cent_id"), col("c_id"), col("c_v"), col("c_n"))
  }

  /** [[ivfTopK]] against an explicit centroid frame — probe selection and
    * list scan identical to the seeded variant. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int, cents: DataFrame): DataFrame = {
    val bcents = broadcast(cents)
    val q = queries.select(col(idCol).as("q_id"), fixedPoint(col(vecCol)).as("q_v"))
      .withColumn("q_n", normSqFp(col("q_v")))
      .filter(col("q_n") > 0)
    val scoredQ = q.crossJoin(bcents)
      .select(col("q_id"), col("q_v"), col("q_n"), col("cent_id"),
        cosineFromNorms(col("q_v"), col("cent_v"), col("q_n"), col("cent_n")).as("cent_cos"))
      .filter(col("cent_cos").isNotNull)
    val wq = Window.partitionBy("q_id").orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probes = scoredQ.withColumn("__r", row_number().over(wq)).filter(col("__r") <= nProbe)
      .select(col("q_id"), col("q_v"), col("q_n"), col("cent_id"))
    val lists = ivfListsWith(corpus, idCol, vecCol, cents)
    val scored = probes.join(lists, Seq("cent_id"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("match_id"),
        cosineFromNorms(col("q_v"), col("c_v"), col("q_n"), col("c_n")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .distinct()
    rankTopK(scored, k)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int, nProbe: Int): DataFrame = {
    require(nProbe <= nCentroids, s"nProbe=$nProbe > nCentroids=$nCentroids")
    val cents = broadcast(corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cent_id"), fixedPoint(col(vecCol)).as("cent_v"))
      .withColumn("cent_n", normSqFp(col("cent_v"))))
    // Query-side probe selection (top-nProbe lists per query) stays a
    // window rank: the query set is the small side by definition.
    def assign(df: DataFrame, side: String, probes: Int): DataFrame = {
      val v = df.select(col(idCol).as(s"${side}_id"), fixedPoint(col(vecCol)).as(s"${side}_v"))
        .withColumn(s"${side}_n", normSqFp(col(s"${side}_v")))
        .filter(col(s"${side}_n") > 0)
      val scored = v.crossJoin(cents)
        .select(col(s"${side}_id"), col(s"${side}_v"), col(s"${side}_n"), col("cent_id"),
          cosineFromNorms(col(s"${side}_v"), col("cent_v"), col(s"${side}_n"), col("cent_n"))
            .as("cent_cos"))
        .filter(col("cent_cos").isNotNull)
      val w = Window.partitionBy(s"${side}_id").orderBy(col("cent_cos").desc, col("cent_id").asc)
      scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= probes)
        .select(col(s"${side}_id"), col(s"${side}_v"), col(s"${side}_n"), col("cent_id"))
    }
    val lists = ivfLists(corpus, idCol, vecCol, nCentroids) // narrow build
    val probes = assign(queries, "q", nProbe)     // each query probes nProbe lists
    val scored = probes.join(lists, Seq("cent_id"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("match_id"),
        cosineFromNorms(col("q_v"), col("c_v"), col("q_n"), col("c_n")).as("cosine"))
      .filter(col("cosine").isNotNull)
      // a corpus vector can appear through several probed lists → dedupe
      .distinct()
    rankTopK(scored, k)
  }

  /** Approximate kNN GRAPH build — every vector's top-k neighbors
    * within its sign-LSH bucket, the input artifact of graph-based
    * corpus curation (SemDeDup-style cluster refinement, label
    * propagation, graph-connectivity diversity sampling). Unlike the
    * serving retrievers, BOTH sides are the corpus, so the shape must
    * be the bucket equi-SELF-join (nothing broadcasts a corpus): each
    * vector scores only its bucket-mates, and the per-vector ranking
    * funnels through the bounded [[graft.functions.TopKByScore]]
    * aggregate — the exchange moves O(n·k) rows at any corpus size.
    * SIZING `bits`: the scoring work is Σ_buckets |bucket|², so `bits`
    * must grow ~log₂(n) to hold bucket occupancy constant — the ×4
    * densified-corpus study measured 16× in-bucket candidates (runtime
    * 6.6×, sublinear vs candidates) at FIXED bits; the build is
    * candidate-bound while the output stays k-bounded per vertex.
    * Returns (src_id, dst_id, cosine, rank ≤ k), zero vectors excluded.
    *
    * The finished edge table is MEMOIZED per (input plan, k, bits)
    * epoch ([[graft.Caches.memo]] + persist + materialize): the graph
    * is the shared input artifact of an entire diagnostics family
    * (triangles, degree census, label propagation, k-core, link
    * prediction, clustering coefficient, assortativity — 8+ registry
    * consumers), and a production deployment materializes it ONCE and
    * lets every downstream read the artifact — rebuilding the bucketed
    * self-join per consumer is the in-session analogue of re-crawling
    * the corpus per query. First consumer pays the build (Bench
    * cold-bills it through the family's caching rows); later consumers
    * in the epoch reuse the persisted handle. */
  def knnGraph(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, bits: Int = AutoBits): DataFrame = {
    val w = resolveBits(vectors, bits)
    graft.Caches.memo(("knn-graph",
      vectors.queryExecution.logical.canonicalized, idCol, vecCol, k, w)) {
      val v = vectors.select(col(idCol).as("id"),
        fixedPoint(col(vecCol)).as("fv"), signBucket(col(vecCol), w).as("bucket"))
        .withColumn("nn", normSqFp(col("fv")))
        .filter(col("nn") > 0)
      val scored = v.as("x").join(v.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.id") =!= col("y.id"))
        .select(col("x.id").as("query_id"), col("y.id").as("match_id"),
          cosineFromNorms(col("x.fv"), col("y.fv"), col("x.nn"), col("y.nn")).as("cosine"))
      graft.Caches.materialize(
        rankTopK(scored, k)
          .select(col("query_id").as("src_id"), col("match_id").as("dst_id"),
            col("cosine"), col("rank"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
  }

  /** GONZALEZ FARTHEST-POINT k-CENTER SEEDING (Gonzalez 1985 "Clustering
    * to minimize the maximum intercluster distance" — the 2-approximation
    * k-center heuristic and the deterministic cousin of k-means++ D²
    * seeding): start from the smallest-id vector, then k−1 times pick
    * the point FARTHEST from the chosen set (max over points of min over
    * centers of exact integer squared L2; ties → smallest id). The
    * monotone radius sequence is the classic coverage diagnostic, and
    * the seeds are the spread-out initialization a deterministic Lloyd
    * trainer wants instead of head-of-corpus ids.
    *
    * Scale shape: the projected fixed-point table persists ONCE and
    * each round re-reads the cache (k corpus scans total — the
    * trainCentroids precedent); a round is ONE map-side-combining
    * argmax aggregate — max(struct(min-dist, −id, fv)) — with the ≤k
    * chosen centers riding as broadcast DATA (collected-struct frame:
    * constant plan shape across rounds, codegen cache hits), and
    * exactly one (1+d)-value row reaches the driver per round. The
    * min-over-centers uses the dot identity ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²
    * so the inner product runs through the codegen DotProductFp kernel
    * and the norms are computed once per row/center. Exact BIGINT
    * (d=64 fixed-point terms ≤ ~4e12 each, sums ≤ ~5e14 — no overflow),
    * deterministic ties ⇒ the seed set is a pure function of the
    * corpus.
    *
    * Edge semantics: an empty (or all-null-embedding) input fails fast
    * with a clear require message. When the corpus has fewer than k
    * DISTINCT points, the farthest-point radius hits 0 and the
    * remaining rounds re-select the smallest-id point at dist_fp = 0 —
    * k rows always come back (fixed-arity contract for the Lloyd
    * initializer); a dist_fp = 0 tail IS the "corpus has < k distinct
    * points" signal, deliberately not an error. */
  def kcenterSeeds(vectors: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k=$k out of range 1..64")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
      .withColumn("nn", normSqFp(col("fv")))
    val pv = graft.Caches.track(
      v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val firstRows = pv.orderBy(col("id")).limit(1)
      .select(col("id"), col("fv")).collect()
    require(firstRows.nonEmpty,
      s"kcenterSeeds: no rows with a non-null '$vecCol' to seed from")
    val first = firstRows(0)
    var chosen = Vector((0, first.getLong(0), 0L,
      first.getSeq[Long](1).toArray))
    var r = 1
    while (r < k) {
      val centDf = chosen.map { case (_, cid, _, cv) =>
          (cid, cv.toSeq, cv.map(x => x * x).sum) }
        .toDF("cent_id", "cent_v", "cent_n")
        .agg(collect_list(struct(col("cent_id"), col("cent_v"),
          col("cent_n"))).as("cs"))
      val best = pv.crossJoin(broadcast(centDf))
        .select(col("id"), col("fv"),
          array_min(transform(col("cs"), c =>
            col("nn") - lit(2L) * dotFp(col("fv"), c.getField("cent_v")) +
              c.getField("cent_n"))).as("mind"))
        .agg(max(struct(col("mind"), (-col("id")).as("nid"),
          col("fv").as("fv"))).as("b"))
        .select(col("b.mind"), (-col("b.nid")).as("id"), col("b.fv"))
        .collect()(0)
      chosen = chosen :+ ((r, best.getLong(1), best.getLong(0),
        best.getSeq[Long](2).toArray))
      r += 1
    }
    chosen.map { case (i, id, dist, _) => (i, id, dist) }
      .toDF("seed_idx", "vec_id", "dist_fp")
  }

  /** MMR diversified rerank (Carbonell & Goldstein, SIGIR 1998): greedy
    * maximal-marginal-relevance selection of `k` results from the
    * `poolK`-candidate cosine pool of one query — the retrieval stage
    * that trades raw relevance for coverage (near-duplicate hits crowd
    * out distinct ones under plain top-k). λ is fixed at 0.5, where the
    * MMR objective λ·rel − (1−λ)·maxSim orders identically to
    * rel − maxSim, so the scalar drops out of the arithmetic entirely.
    *
    * Scale shape: candidate generation is the distributed part — the
    * corpus scored against the query vector and trimmed to `poolK` rows
    * by TakeOrderedAndProject (bounded partial top-k); the preceding
    * query-row fetch is an id-pushdown point lookup, not a second full
    * pass (the `id === queryId` predicate reaches the scan). The
    * greedy selection itself is inherently sequential and runs on the
    * driver over the ≤ poolK collected candidates — bounded by
    * construction, the BPE-argmax precedent, and O(poolK²·k) flops on
    * ~10 rows no matter the corpus size.
    *
    * Numeric discipline: the HASHED contract is integer-only
    * (selection rank, id, exact fixed-point relevance dot, squared
    * norm). The greedy comparisons run on doubles, but every one is a
    * correctly-rounded IEEE op over exact integers (long→double
    * conversion, sqrt, multiply, divide, subtract) with the identical
    * expression tree on both engines — so the selection ORDER is
    * bit-reproducible even though no double ships in the output. Ties
    * break by id ascending at every step. */
  def mmrRerank(vectors: DataFrame, idCol: String, vecCol: String,
                queryId: Long, poolK: Int, k: Int): DataFrame = {
    require(poolK >= k && k >= 1, s"need poolK=$poolK >= k=$k >= 1")
    val v = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
      .withColumn("nn", normSqFp(col("fv")))
      .filter(col("nn") > 0)
    val qRows = v.filter(col("id") === queryId).select(col("fv"), col("nn")).collect()
    require(qRows.length == 1, s"queryId=$queryId must match exactly one nonzero vector")
    val (qfv, qn) = (qRows.head.getSeq[Long](0), qRows.head.getLong(1))
    val qLit = array(qfv.map(lit(_)): _*)
    val pool = v.filter(col("id") =!= queryId)
      .select(col("id"), col("fv"), col("nn"), dotFp(col("fv"), qLit).as("rel_dot"))
      .withColumn("rel", col("rel_dot").cast("double") /
        (sqrt(lit(qn).cast("double")) * sqrt(col("nn").cast("double"))))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolK)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    def cos(a: (Long, Array[Long], Long, Long, Double),
            b: (Long, Array[Long], Long, Long, Double)): Double = {
      var d = 0L; var i = 0
      while (i < a._2.length) { d += a._2(i) * b._2(i); i += 1 }
      d.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Long], Long, Long, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.from(pool)
    while (selected.length < k && remaining.nonEmpty) {
      // mmr = rel − max cos to the already-selected set (rel alone on
      // the first pick); argmax with id-ascending tie-break
      val best = remaining.minBy { c =>
        val mmr =
          if (selected.isEmpty) c._5
          else c._5 - selected.iterator.map(s => cos(c, s)).max
        (-mmr, c._1)
      }
      selected += best
      remaining -= best
    }
    val spark = vectors.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case (c, i) => (i + 1, c._1, c._4, c._3) }
      .toDF("mmr_rank", "vec_id", "rel_dot_fp", "norm_fp")
  }

  /** CONTRASTIVE TRIPLET MINING — (anchor, positive, hard-negative)
    * tuples for embedding/retriever training: per anchor, the positive
    * is the nearest in-bucket neighbor and the hard negatives are the
    * top-k most-similar candidates BELOW `posMax` cosine (similar
    * enough to be informative, dissimilar enough not to be a label-noise
    * duplicate — the in-batch/hard-negative recipe of DPR, Karpukhin et
    * al. EMNLP'20, and SimCLR-style contrastive pipelines; the `posMax`
    * cut is the near-dup exclusion SemDeDup motivates).
    *
    * Scale shape: candidates come from the sign-LSH bucket equi-join
    * (never n²); both the positive and the negative rankings funnel
    * through the bounded [[rankTopK]] aggregate off ONE persisted
    * scored-candidate table, so the exchange moves O(anchors·k) rows at
    * any corpus size. Cosines are exact-int-ratio doubles (the hashed
    * `cosine` column is on the PortabilitySpec approved list). */
  def contrastiveTriplets(vectors: DataFrame, idCol: String, vecCol: String,
                          anchorPred: Column, posMax: Double,
                          k: Int, bits: Int = AutoBits): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val w = resolveBits(vectors, bits)
    val v = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"),
        signBucket(col(vecCol), w).as("bucket"),
        anchorPred.as("is_anchor"))
      .withColumn("nn", normSqFp(col("fv")))
      .filter(col("nn") > 0)
    val anchors = v.filter(col("is_anchor"))
      .select(col("id").as("query_id"), col("fv").as("qv"),
        col("nn").as("qn"), col("bucket"))
    val scored = graft.Caches.materialize(
      anchors.join(v, Seq("bucket"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("match_id"),
          cosineFromNorms(col("qv"), col("fv"), col("qn"), col("nn")).as("cosine"))
        .filter(col("cosine").isNotNull)
        .persist())
    val pos = rankTopK(scored, 1).withColumn("role", lit("pos"))
    // the positive is EXCLUDED from the negative pool even when it falls
    // below posMax (a sparse bucket can make the top-1 a non-near-dup):
    // a triplet with pos == neg has a contradictory contrastive gradient.
    // One-row-per-anchor exclusion set — broadcast left-anti join.
    val neg = rankTopK(
        scored.join(broadcast(pos.select(col("query_id"), col("match_id"))),
          Seq("query_id", "match_id"), "left_anti")
          .filter(col("cosine") < posMax), k)
      .withColumn("role", lit("neg"))
    pos.unionByName(neg)
      .select(col("query_id").as("anchor_id"), col("role"),
        col("match_id"), col("cosine"), col("rank"))
  }

  /** Embedding near-duplicate pairs: all (a<b) pairs with cosine ≥
    * threshold, candidate-generated through the sign-LSH bucket equi-join
    * (self-join on bucket, never the full n² cross product).
    */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, bits: Int = AutoBits): DataFrame = {
    val w = resolveBits(vectors, bits)
    val v = vectors.select(col(idCol).as("id"),
      fixedPoint(col(vecCol)).as("fv"), signBucket(col(vecCol), w).as("bucket"))
      .withColumn("nn", normSqFp(col("fv")))
    v.as("x").join(v.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosineFromNorms(col("x.fv"), col("y.fv"), col("x.nn"), col("y.nn")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-group embedding CENTROIDS + the pairwise cosine between groups —
    * the "domain map" of an embedded corpus (which sources/classes are
    * semantically close, the signal behind mixture re-weighting and
    * cross-domain contamination triage).
    *
    * Scale shape: ONE map-side-combining hash aggregate reduces the
    * corpus to #groups rows (in-row elementwise sums via
    * [[graft.functions.ArraySumFp]] — never a posexplode, which would
    * push d× the rows through the exchange); the pairwise stage is a
    * self-join of that #groups-row table — trivially broadcast, the
    * corpus is scanned exactly once.
    *
    * Numeric discipline (oracle hash-exactness): per-group sums are
    * EXACT integers of fp6 elements; the centroid is the truncating
    * integer mean `s div n` (Spark `div` ≡ DuckDB `//`, both toward
    * zero), which bounds each element by the fp6 input range REGARDLESS
    * of group size — so the dot/norm products stay BIGINT-exact at any
    * corpus scale (d · maxFp6² ≪ 2⁶³). The ORACLE CONTRACT is the
    * integer triple (dot_fp, norm_a_fp, norm_b_fp); `cos` is a DERIVED
    * display column (division over sqrts of those exact integers) that
    * consumers read but the cross-engine hash gate must not cover —
    * round 9 proved double/HUGEINT columns are not portable through the
    * driver's comparer. */
  def groupCentroidCosines(vectors: DataFrame, groupCol: String,
                           vecCol: String): DataFrame = {
    // NULL vectors are excluded so `n` is the count of vectors that
    // actually entered the sum (an all-null group then vanishes instead
    // of surfacing a NULL centroid) — mirrors the oracle's unnest
    // semantics, where a null list contributes no component rows.
    val cents = vectors
      .filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("g"), fixedPoint(col(vecCol)).as("v"))
      .groupBy(col("g"))
      .agg(graft.functions.ArraySumFp(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("g"), col("n"), expr("transform(s, x -> x div n)").as("c"))
      .withColumn("nsq", normSqFp(col("c")))
    cents.as("a").join(cents.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        dotFp(col("a.c"), col("b.c")).as("dot_fp"),
        col("a.nsq").as("norm_a_fp"), col("b.nsq").as("norm_b_fp"),
        cosineFromNorms(col("a.c"), col("b.c"), col("a.nsq"), col("b.nsq"))
          .as("cos"))
  }

  /** Per-label CENTROID DRIFT between two halves of an embedding store
    * (split by id parity — in production, by ingest epoch): the
    * embedding-freshness monitor a store deployment runs to catch
    * encoder drift / distribution shift before it poisons retrieval.
    * For each label present in BOTH halves: both integer centroids
    * (fp6-quantized sums, truncating mean — the groupCentroidCosines
    * numeric discipline, so every output is BIGINT-exact at any corpus
    * size) and their exact L1 distance plus dot/norm sufficient
    * statistics; the cosine/L2 displays derive outside the hash gate.
    *
    * Scale shape: ONE corpus scan into a (label, half)-keyed
    * map-side-combining ArraySumFp aggregate (vectors stay in-row —
    * never a posexplode of n·d component rows); the halves pair with a
    * #labels-row self-join, trivially broadcast. */
  def centroidDrift(vectors: DataFrame, groupCol: String, idCol: String,
                    vecCol: String): DataFrame = {
    val cents = vectors.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("g"), pmod(col(idCol), lit(2L)).as("half"),
        fixedPoint(col(vecCol)).as("v"))
      .groupBy(col("g"), col("half"))
      .agg(graft.functions.ArraySumFp(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("g"), col("half"), col("n"),
        expr("transform(s, x -> x div n)").as("c"))
    val even = cents.filter(col("half") === 0)
      .select(col("g"), col("n").as("n_even"), col("c").as("c_e"))
    val odd = cents.filter(col("half") === 1)
      .select(col("g"), col("n").as("n_odd"), col("c").as("c_o"))
    even.join(odd, Seq("g"))
      .select(col("g").as("label"), col("n_even"), col("n_odd"),
        expr("aggregate(zip_with(c_e, c_o, (x, y) -> abs(x - y)), 0L, (acc, x) -> acc + x)")
          .as("l1_fp"),
        dotFp(col("c_e"), col("c_o")).as("dot_fp"),
        normSqFp(col("c_e")).as("norm_e_fp"),
        normSqFp(col("c_o")).as("norm_o_fp"))
  }

  /** RADEMACHER RANDOM PROJECTION (Johnson–Lindenstrauss with ±1
    * entries, Achlioptas '01 — public): project d-dim embeddings to
    * outDim dims with s_ji ∈ {±1} derived from md5("j:i") parity — the
    * dimensionality-reduction step run before LSH/IVF when the raw
    * embedding width makes bucket probes memory-bound. Pairwise
    * distances are preserved within the JL bound in expectation; signs
    * are DATA-INDEPENDENT and reproducible from the (j, i) index alone,
    * so any engine regenerates the identical matrix.
    *
    * Scale shape: entirely IN-ROW and codegen — the outDim sign rows
    * are compile-time literal arrays and each output component is one
    * [[graft.functions.DotProductFp]] over the fp6 input (exact
    * integers: |out| ≤ d · maxFp6 ≪ 2⁶³), then one `stack` to the long
    * (vec_id, out_dim, comp_fp6) form. Zero exchange, zero state.
    */
  def rademacherProject(vecs: DataFrame, idCol: String, vecCol: String,
                        inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= 256,
      s"bad dims: inDim=$inDim outDim=$outDim")
    def sign(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 0L) 1L
      else -1L
    }
    val comps = (0 until outDim).map { j =>
      val signs = (0 until inDim).map(i => sign(j, i))
      dotFp(col("fv"), typedlit(signs)).as(s"c$j")
    }
    val stackExpr = (0 until outDim).map(j => s"$j, c$j")
      .mkString(s"stack($outDim, ", ", ", ") as (out_dim, comp_fp6)")
    vecs.select(col(idCol).as("vec_id"), fixedPoint(col(vecCol)).as("fv"))
      .select(col("vec_id") +: comps: _*)
      .selectExpr("vec_id", stackExpr)
  }

  /** Per-label embedding SCATTER sufficient statistics — the
    * intra-class dispersion audit of an embedded corpus (tight classes
    * embed well; a class whose per-dimension variance rivals the global
    * spread is mislabeled/noisy and is what SemDeDup-style pruning
    * keys on). One row per (label, dim) carrying the EXACT integer
    * sufficient statistics (n, Σq, Σq²) of the fp3-quantized
    * component; mean/variance/trace are DERIVED display values
    * consumers compute in whatever precision they like — keeping the
    * division/finale OUT of the hashed contract is the round-9
    * portability lesson.
    *
    * Numeric discipline: q = fp6(x) div 1000 — the proven
    * [[graft.functions.FixedPointFp]] HALF_UP kernel followed by one
    * truncating integer div (Spark `div` ≡ DuckDB `//`, both toward
    * zero), so |q| ≤ 10³·|x| and Σq² wraps BIGINT only past ~9·10¹²
    * vectors per label — integer-exact at any realistic corpus scale
    * (the per-dim form deliberately avoids the Σ_d(Σq)² cross-dim
    * square, which wraps at ~7·10⁵ rows).
    *
    * Scale shape: ONE map-side-combining hash aggregate to #labels
    * rows (in-row elementwise sums via [[graft.functions.ArraySumFp]];
    * the d-fold posexplode runs AFTER aggregation, over #labels rows,
    * never over the corpus). */
  def labelScatterStats(vectors: DataFrame, labelCol: String,
                        vecCol: String): DataFrame = {
    val base = vectors.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), fixedPoint(col(vecCol)).as("fv"))
      .select(col("label"), expr("transform(fv, x -> x div 1000)").as("q"))
      .select(col("label"), col("q"), expr("transform(q, x -> x * x)").as("qq"))
    base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        graft.functions.ArraySumFp(col("q")).as("sx"),
        graft.functions.ArraySumFp(col("qq")).as("sxx"))
      .select(col("label"), col("n"),
        posexplode(arrays_zip(col("sx"), col("sxx"))))
      .select(col("label"), col("pos").cast("integer").as("dim"),
        col("n"), col("col.sx").as("sx"), col("col.sxx").as("sxx"))
  }

  /** Per-vector int8 SCALAR QUANTIZATION — the standard 4× compression
    * applied to embedding stores before ANN serving (each component maps
    * to round((v − min) · 255 / (max − min)) ∈ [0, 255], with (min, max)
    * kept per vector for dequantization). In-row and shuffle-free; the
    * kernel is the native one-pass expression
    * [[graft.functions.QuantizeInt8Fp]] (the builtin Column form below
    * re-scans the array per element once Catalyst inlines the min/max
    * subtrees into the transform lambda — O(d²) reads per vector).
    * Arithmetic is float→double promotion with a fixed op order, so the
    * codes are bit-deterministic and oracle-reproducible; constant
    * vectors (max = min) map to code 0.
    * Returns (id, codes array<int>, q_min double, q_max double).
    */
  def quantizeInt8(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(idCol).as("id"),
        graft.functions.QuantizeInt8Fp(col(vecCol)).as("q"))
      .select(col("id"), col("q.codes").as("codes"),
        col("q.q_min").as("q_min"), col("q.q_max").as("q_max"))

  /** PRODUCT QUANTIZATION code assignment: split each fixed-point vector
    * into `m` contiguous subvectors and assign each to its nearest
    * codebook entry by EXACT integer squared-L2 (ties → lowest code id) —
    * the m·log2(k)-bit compression behind large-scale ANN stores.
    * Codebooks are seeded from the first `k` vectors (the deterministic
    * contract the oracle mirrors — swap per-subspace trainCentroids in
    * for trained codebooks, as with the IVF quantizer). The k·dim
    * codebook matrix is bounded and rides as literal arrays (the IVF
    * broadcast reasoning); assignment is one in-row expression per
    * subspace — argmin via array_min over an array of (dist, code)
    * structs, so each distance subtree appears exactly ONCE in the plan
    * (chained when()/least() would duplicate subtrees quadratically).
    * A narrow map over the scan, no shuffle. Returns (id, subspace,
    * code).
    */
  def pqCodes(vectors: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int): DataFrame = {
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    val (cb, sub) = pqCodebook(fvAll, m, k)
    fvAll
      .select(col("id"), posexplode(array((0 until m).map(pqBestCode(cb, sub)): _*)))
      .withColumnRenamed("pos", "subspace")
      .withColumnRenamed("col", "code")
  }

  /** Seeded codebook (first `k` vectors) collected to the driver — bounded
    * at k rows by construction, the same reasoning as broadcasting IVF
    * centroids. Returns (codebook, subvector length). */
  private def pqCodebook(fvAll: DataFrame, m: Int, k: Int): (Seq[Seq[Long]], Int) = {
    val cbRows = fvAll.filter(col("id") < k).orderBy(col("id")).collect()
    require(cbRows.nonEmpty, "codebook seed set is empty")
    val cb: Seq[Seq[Long]] = cbRows.map(_.getSeq[Long](1).toSeq).toSeq
    val dim = cb.head.size
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(cb.forall(_.size == dim), "codebook vectors must share the dimension")
    (cb, dim / m)
  }

  /** ARGMIN KEY for the squared-L2 between subvector `j` of the row's
    * fv and codebook entry `c` — the subtree appears exactly once per
    * (j, c) in the argmin array below. The exact integer identity
    * ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² lets the ‖x‖² term DROP: it is
    * constant across the codes of one subspace, so the argmin (and its
    * exact-equality tie structure — a uniform shift) is unchanged while
    * the plan loses half its dot-product subtrees (the round-11 64 KB
    * janino fence: the full-identity form pushed the m·k struct array
    * past the whole-stage-codegen method limit and the whole scan fell
    * back to interpreted eval). The one dot runs through the native
    * DotProductFp kernel and ‖c‖² folds to a literal. */
  private def pqDist(cb: Seq[Seq[Long]], sub: Int)(j: Int, c: Int): Column = {
    val entry = cb(c).slice(j * sub, (j + 1) * sub)
    val cbArr = array(entry.map(lit): _*)
    val sv = slice(col("fv"), j * sub + 1, sub)
    lit(entry.map(x => x * x).sum) - lit(2L) * dotFp(sv, cbArr)
  }

  private def pqBestCode(cb: Seq[Seq[Long]], sub: Int)(j: Int): Column =
    array_min(array(cb.indices.map(c =>
      struct(pqDist(cb, sub)(j, c).as("d"), lit(c).as("c"))): _*)).getField("c")

  /** [[pqCodes]] against an explicit (e.g. trained) codebook of stitched
    * full-dimension entries — the seam that mirrors [[ivfListsWith]]:
    * swapping codebooks changes no plan shape. */
  def pqCodesWith(vectors: DataFrame, idCol: String, vecCol: String,
                  m: Int, cb: Seq[Seq[Long]]): DataFrame = {
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    val dim = cb.head.size
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val sub = dim / m
    fvAll
      .select(col("id"), posexplode(array((0 until m).map(pqBestCode(cb, sub)): _*)))
      .withColumnRenamed("pos", "subspace")
      .withColumnRenamed("col", "code")
  }

  /** Trained per-subspace PQ codebooks: plain-L2 Lloyd iterations (the PQ
    * objective — unlike the spherical/cosine trainer behind the IVF coarse
    * quantizer) for ALL m subspaces in ONE aggregation per round: explode
    * (subspace, subvector), argmin in-row against the round's codebook
    * literal, then component-wise INTEGER mean per (subspace, code,
    * position) — exact, order-independent, so training is deterministic.
    * Per round only k·dim aggregate rows reach the driver (the
    * trainCentroids bound); empty codes keep their previous entry. Seeded
    * from the first k vectors (identical start to [[pqCodes]]' contract).
    * Returns stitched full-dim entries consumable by [[pqCodesWith]] /
    * [[pqDistortion]]. */
  def trainPqCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, iters: Int): Seq[Seq[Long]] = {
    require(iters >= 0, s"iters=$iters out of range")
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    var (cb, sub) = pqCodebook(fvAll, m, k)
    val exploded = fvAll.select(
      posexplode(array((0 until m).map(j => slice(col("fv"), j * sub + 1, sub)): _*))
        .as(Seq("j", "sv")))
    // one corpus pass total: each Lloyd round re-consumes the exploded
    // (j, subvector) table, so pin it instead of re-scanning the source
    if (iters > 0) { exploded.persist(); exploded.count() }
    import vectors.sparkSession.implicits._
    var it = 0
    while (it < iters) {
      // Two deliberate shapes keep an iteration ~the cost of one codes
      // pass: (1) the round's codebook rides as broadcast DATA (1-row
      // m×k nested frame of (subvector, ‖c‖²) entries), not an m·k·sub
      // literal tree — the plan is constant across iterations AND
      // independent of k, so analysis/codegen happen once (the
      // trainCentroids lesson); (2) the squared-L2 argmin expands to
      // ‖x‖² − 2x·c + ‖c‖² with both dots through the native DotProductFp
      // kernel (a compiled array loop) and ‖c‖² precomputed driver-side —
      // the interpreted per-ELEMENT zip_with/aggregate lambda chain this
      // replaces dominated the iteration wall-clock. Argmin stays the
      // positional form (first position of the min = lowest-code
      // tie-break): struct-field aliases inside a lambda body get mangled
      // by the analyzer, and the double evaluation of the distance list
      // is cheap now that each entry is two kernel dots.
      val cb3d: Seq[Seq[(Seq[Long], Long)]] = (0 until m).map(j =>
        cb.indices.map { c =>
          val sv = cb(c).slice(j * sub, (j + 1) * sub)
          (sv.toSeq, sv.map(x => x * x).sum)
        })
      val cbDf = Seq(Tuple1(cb3d)).toDF("cb")
      val svn = dotFp(col("sv"), col("sv"))
      val dists = transform(element_at(col("cb"), col("j") + 1), cbc =>
        svn - lit(2L) * dotFp(col("sv"), cbc.getField("_1")) + cbc.getField("_2"))
      val bestCode = (array_position(dists, array_min(dists)) - 1).cast("int")
      // subvectors stay IN ROW through the aggregate (ArraySumFp) — the
      // posexplode form pushed sub× the rows through the partial hash
      // map and shuffled a sub×-larger group space
      val sums = exploded.crossJoin(broadcast(cbDf))
        .select(col("j"), bestCode.as("code"), col("sv"))
        .groupBy(col("j"), col("code"))
        .agg(graft.functions.ArraySumFp(col("sv")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byJc = sums.map(r =>
        ((r.getInt(0), r.getInt(1)), (r.getSeq[Long](2), r.getLong(3)))).toMap
      cb = cb.indices.map { c =>
        (0 until m).flatMap { j =>
          byJc.get((j, c)) match {
            case Some((s, n)) => s.map(_ / n) // exact int mean
            case None => cb(c).slice(j * sub, (j + 1) * sub) // empty code
          }
        }
      }
      it += 1
    }
    if (iters > 0) exploded.unpersist(false)
    cb
  }

  /** Total quantization distortion Σ_vec Σ_j min_c ‖x_j − cb_j(c)‖² (the
    * objective PQ training minimizes) — exact integer arithmetic, used by
    * specs to compare codebooks. */
  def pqDistortion(vectors: DataFrame, idCol: String, vecCol: String,
                   m: Int, cb: Seq[Seq[Long]]): Long = {
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    val sub = cb.head.size / m
    // pqDist is the ‖x‖²-dropped ARGMIN key; the true distortion adds
    // the per-subspace ‖x_j‖² back (once, outside the argmin).
    def minD(j: Int): Column = {
      val sv = slice(col("fv"), j * sub + 1, sub)
      dotFp(sv, sv) + array_min(array(cb.indices.map(c =>
        struct(pqDist(cb, sub)(j, c).as("d"), lit(c).as("c"))): _*)).getField("d")
    }
    fvAll.select((0 until m).map(minD).reduce(_ + _).as("d"))
      .agg(sum(col("d"))).collect()(0).getLong(0)
  }

  /** PQ ASYMMETRIC-DISTANCE top-k (ADC, Jegou et al., TPAMI'11): the
    * serving path the PQ compression exists for. The query (a corpus
    * vector named by `queryId`) is NOT quantized; instead a per-subspace
    * lookup table LUT[j][c] = exact integer squared-L2 between the query
    * subvector and codebook entry c is computed once on the driver (m·k
    * entries — bounded like the codebook itself) and rides as literal
    * arrays. Each corpus vector's approximate distance is then the sum of
    * m LUT lookups at its assigned codes — in-row, no shuffle; the global
    * top-k is a TakeOrderedAndProject. At 100 TB the scan-side work per
    * vector is m code assignments + m array indexings, and only k rows
    * (the codebook) plus 1 row (the query) ever reach the driver.
    * Returns (id, adc_dist) ordered by (adc_dist, id), `topK` rows.
    */
  def pqTopK(vectors: DataFrame, idCol: String, vecCol: String,
             queryId: Long, m: Int, k: Int, topK: Int): DataFrame = {
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    val (cb, sub) = pqCodebook(fvAll, m, k)
    val qfv = collectQuery(fvAll, queryId, cb.head.size)
    fvAll
      .select(col("id"), adcDistExpr(cb, sub, m, qfv).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(topK)
  }

  private def collectQuery(fvAll: DataFrame, queryId: Long, dim: Int): Seq[Long] = {
    val qRows = fvAll.filter(col("id") === queryId).collect()
    require(qRows.length == 1, s"queryId=$queryId must match exactly one vector")
    val qfv = qRows.head.getSeq[Long](1)
    require(qfv.size == dim, "query must share the corpus dimension")
    qfv
  }

  /** The in-row ADC score: Σ_j LUT_j[bestCode_j], with the m·k LUT of
    * exact query↔codebook subspace distances precomputed on the driver
    * and riding as literal arrays. Expects the fixed-point vector in
    * column `fv`. */
  private def adcDistExpr(cb: Seq[Seq[Long]], sub: Int, m: Int,
                          qfv: Seq[Long]): Column = {
    def lutEntry(j: Int, c: Int): Long = {
      var acc = 0L
      var i = j * sub
      while (i < (j + 1) * sub) {
        val d = qfv(i) - cb(c)(i); acc += d * d; i += 1
      }
      acc
    }
    def adcTerm(j: Int): Column = {
      val lutArr = array(cb.indices.map(c => lit(lutEntry(j, c))): _*)
      element_at(lutArr, pqBestCode(cb, sub)(j) + 1)
    }
    (0 until m).map(adcTerm).reduce(_ + _)
  }

  /** IVF-PQ two-stage ANN serving (the FAISS-style composition): the IVF
    * coarse quantizer prunes the corpus to the query's `probes` nearest
    * centroid lists — per-query work |corpus|·probes/nCentroids — and
    * PQ-ADC scores only those candidates in-row. The probe-list choice
    * uses the SAME (cosine DESC, cent_id ASC) rule as list assignment,
    * decided on the driver over the bounded centroid set with exact
    * integer cross-multiplication (no float ranking drift). Returns
    * (id, adc_dist) ordered by (adc_dist, id), `topK` rows from the
    * probed lists only.
    */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
                queryId: Long, nCentroids: Int, probes: Int,
                m: Int, k: Int, topK: Int): DataFrame = {
    require(probes >= 1 && probes <= nCentroids, s"probes=$probes out of range")
    val fvAll = vectors.select(col(idCol).as("id"), fixedPoint(col(vecCol)).as("fv"))
    val (cb, sub) = pqCodebook(fvAll, m, k)
    val qfv = collectQuery(fvAll, queryId, cb.head.size)
    // rank centroids by the SAME double-cosine formulation the in-row
    // assignment and the oracle use: the integer dot and norms are exact
    // (≤ 6.4e13 < 2^53), sqrt and division are correctly-rounded IEEE
    // ops, so this ranking is bit-reproducible across engines
    val cents = fvAll.filter(col("id") < nCentroids).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .filter { case (_, v) => v.exists(_ != 0L) }
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qn = math.sqrt(dot(qfv, qfv).toDouble)
    val ranked = cents.map { case (cid, cv) =>
      (cid, dot(qfv, cv).toDouble / (qn * math.sqrt(dot(cv, cv).toDouble)))
    }.sortBy { case (cid, cos) => (-cos, cid) }
    val probeIds = ranked.take(probes).map(_._1)
    val lists = ivfLists(vectors, idCol, vecCol, nCentroids)
    lists.filter(col("cent_id").isin(probeIds.toIndexedSeq: _*))
      .select(col("c_id").as("id"), col("c_v").as("fv"))
      .select(col("id"), adcDistExpr(cb, sub, m, qfv).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(topK)
  }

  /** CROSS-DIMENSION COVARIANCE sufficient statistics — the one-pass
    * prep behind PCA / ZCA whitening of an embedding store (the
    * companion to the per-(label, dim) scatter of `labelScatterStats`,
    * which deliberately avoids exactly this cross-dim term): for every
    * dimension pair i ≤ j, the EXACT integer statistics (n, Σqᵢ, Σqⱼ,
    * Σqᵢqⱼ) of the fp3-quantized components, from which covariance
    * Cov(i,j) = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / n² and the full d×d matrix are
    * DERIVED display values outside the hash gate (the round-9 lesson).
    *
    * Scale shape: the naive formulation (posexplode twice + self-join
    * on vec_id) shuffles n·d(d+1)/2 rows — 2,080× the corpus at d = 64.
    * Here ONE corpus scan feeds the [[graft.functions.OuterProductSumFp]]
    * aggregate whose partial phase folds each vector into a single
    * (1 + d + d(d+1)/2)-long buffer per map task; the exchange moves one
    * buffer per partition and the pair table is unpacked from the ONE
    * result row by an in-row index computation (no joins, no driver
    * collect, no second scan). BIGINT headroom: |q| ≤ 1e3 ⇒ each product
    * ≤ 1e6 ⇒ Σ wraps only past ~9·10¹² vectors.
    *
    * Empty input (or all-null vectors) yields an empty result — the
    * aggregate returns NULL and the explode of NULL produces no rows.
    * Returns (i, j, n, sum_qi, sum_qj, sum_qq) ordered by (i, j). */
  def covarianceStats(vectors: DataFrame, vecCol: String): DataFrame = {
    val q = vectors.filter(col(vecCol).isNotNull)
      .select(fixedPoint(col(vecCol)).as("fv"))
      .select(expr("transform(fv, x -> x div 1000)").as("q"))
    val agg = q.agg(
      graft.functions.OuterProductSumFp(col("q")).as("st"),
      max(size(col("q"))).as("d"))
    // unpack the single buffer row into the O(d²) pair table entirely
    // in-row: st[0] = n, st[1 + i] = Σqᵢ, triangle row-major at
    // st[1 + d + (i·d − i(i−1)/2 + (j − i))]. The HOF lambdas here run
    // on exactly ONE row — interpreted-eval cost is irrelevant, and the
    // pair table stays distributed lineage (no collect).
    agg.filter(col("st").isNotNull)
      .select(explode(expr(
        """flatten(transform(sequence(0, d - 1), i ->
          |  transform(sequence(i, d - 1), j -> struct(
          |    CAST(i AS INT) AS i, CAST(j AS INT) AS j,
          |    st[0] AS n,
          |    st[CAST(1 + i AS INT)] AS sum_qi,
          |    st[CAST(1 + j AS INT)] AS sum_qj,
          |    st[CAST(1 + d + (i * d - (i * (i - 1)) DIV 2 + (j - i)) AS INT)]
          |      AS sum_qq))))""".stripMargin)).as("r"))
      .select(col("r.i").as("i"), col("r.j").as("j"), col("r.n").as("n"),
        col("r.sum_qi").as("sum_qi"), col("r.sum_qj").as("sum_qj"),
        col("r.sum_qq").as("sum_qq"))
      .orderBy(col("i"), col("j"))
  }

  /** The portable Column formulation QuantizeInt8Fp is spec-checked
    * bit-identical to (and the form the DuckDB oracle mirrors). */
  private[graft] def quantizeInt8Builtin(vectors: DataFrame, idCol: String,
                                         vecCol: String): DataFrame = {
    val mn = array_min(col(vecCol)).cast("double")
    val mx = array_max(col(vecCol)).cast("double")
    vectors.select(
      col(idCol).as("id"),
      transform(col(vecCol), v =>
        when(mx === mn, lit(0))
          .otherwise(round((v.cast("double") - mn) * 255d / (mx - mn)).cast("int")))
        .as("codes"),
      mn.as("q_min"), mx.as("q_max"))
  }

  /** Collected covariance sufficient statistics for the PCA rows —
    * O(d²) rows by construction (the ONLY driver traffic; the corpus
    * pass is the one-buffer-per-partition OuterProductSumFp aggregate
    * behind covarianceStats). Memoized so the power-iteration model and
    * the corpus projection bill one corpus scan between them. */
  private def pcaStats(vectors: DataFrame, vecCol: String)
  : Array[(Int, Int, Long, Long, Long, Long)] =
    graft.Caches.memo(
      ("pcaStats", vectors.queryExecution.logical.canonicalized, vecCol)) {
      covarianceStats(vectors, vecCol).collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
    }

  /** Scaled covariance matrix C(i,j) = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ (exact BigInt
    * — n·covariance·n, positive-semidefinite), per-dim sums s(i), and
    * n, from the collected triangle. */
  private def pcaMatrix(stats: Array[(Int, Int, Long, Long, Long, Long)])
  : (Array[Array[BigInt]], Array[BigInt], BigInt) = {
    val d = stats.map(_._2).max + 1
    val n = BigInt(stats.head._3)
    val s = Array.fill(d)(BigInt(0))
    stats.foreach { case (i, j, _, sqi, _, _) => if (i == j) s(i) = BigInt(sqi) }
    val c = Array.ofDim[BigInt](d, d)
    stats.foreach { case (i, j, _, sqi, sqj, sqq) =>
      val v = n * BigInt(sqq) - BigInt(sqi) * BigInt(sqj)
      c(i)(j) = v; c(j)(i) = v
    }
    (c, s, n)
  }

  /** `iters` rounds of integer-renormalized power iteration from the
    * v0(i) = 1e6 + i start (NOT all-ones: a deterministic symmetry
    * breaker, since an exactly anti-correlated pair of dimensions makes
    * the dominant eigenvector orthogonal to the ones vector and C·1 a
    * hard zero): u = C·v exact, then v ← sgn(u)·(|u|·1e6 div max|u|) —
    * the sign-split makes the integer division operate on nonnegatives
    * only, where floor ≡ truncate in every engine (the X160 floor-div
    * discipline). Deterministic by construction; the contract IS the
    * 8-iteration method, not a convergence promise. */
  private def powerIterate(c: Array[Array[BigInt]], iters: Int)
  : Array[BigInt] = {
    val d = c.length
    var v = Array.tabulate(d)(i => BigInt(Scale) + i)
    for (_ <- 1 to iters) {
      val u = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = u.map(_.abs).max.max(BigInt(1))
      v = u.map(x => if (x < 0) -((-x) * Scale / m) else x * Scale / m)
    }
    v
  }

  /** Dominant principal direction of the embedding store by
    * integer-renormalized power iteration over the EXACT scaled
    * covariance — the "apply half" of the X170 sufficient statistics:
    * the corpus contributes one OuterProductSumFp pass, the O(d²)
    * matrix collects to the driver (the PQ-codebook precedent) and the
    * d-step iteration runs there in exact BigInt, so both engines
    * reproduce every component bit-for-bit. Returns one row per
    * dimension (dim, v_fp6 ∈ [−1e6, 1e6]) plus the explained-variance
    * share ev_permille = 1000·vᵀCv div (vᵀv·trace C) — the number a
    * curator reads ("is this store one boilerplate direction in a
    * trench coat"). */
  def pcaPower(vectors: DataFrame, vecCol: String, iters: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val stats = pcaStats(vectors, vecCol)
    if (stats.isEmpty)
      return Seq.empty[(Int, Long, Long)].toDF("dim", "v_fp6", "ev_permille")
    val (c, _, _) = pcaMatrix(stats)
    val d = c.length
    val v = powerIterate(c, iters)
    val trace = (0 until d).map(i => c(i)(i)).sum
    val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
    val num = (0 until d).map(i => v(i) * cv(i)).sum
    val den = (0 until d).map(i => v(i) * v(i)).sum * trace
    val ev = if (den.signum == 0) BigInt(0) else num * 1000 / den
    (0 until d).map(i => (i, v(i).toLong, ev.toLong))
      .toDF("dim", "v_fp6", "ev_permille")
  }

  /** Centered projection of every vector onto the power-iteration
    * direction: pc1 = q·v − sgn(K)·(|K| div n) with K = Σᵢ s(i)·v(i) —
    * the truncated-mean centering keeps the whole contract in exact
    * BIGINT (|q·v| ≤ d·1e3·1e6, no overflow at any corpus size; the
    * mean term is an O(1) driver scalar). The corpus-side work is ONE
    * narrow scan: quantize, dot against the broadcast-literal
    * direction, subtract a constant. */
  def pcaProject(vectors: DataFrame, idCol: String, vecCol: String,
                 iters: Int = 8): DataFrame = {
    val stats = pcaStats(vectors, vecCol)
    require(stats.nonEmpty, "pcaProject: empty embedding store")
    val (c, s, n) = pcaMatrix(stats)
    val v = powerIterate(c, iters)
    val k = (0 until c.length).map(i => s(i) * v(i)).sum
    val meanTerm = (if (k < 0) -((-k) / n) else k / n).toLong
    val vLit = typedLit(v.map(_.toLong).toSeq)
    vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), fixedPoint(col(vecCol)).as("fv"))
      .select(col("vec_id"),
        (dotFp(expr("transform(fv, x -> x div 1000)"), vLit)
          - lit(meanTerm)).as("pc1"))
      .orderBy(col("vec_id"))
  }
}
