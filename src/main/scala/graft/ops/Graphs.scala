package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative link-analysis over edge lists — the crawl-side ranking
  * family (which domains to fetch first, which sources to trust) that
  * complements the dedup tier's connected components.
  */
object Graphs {

  /** PageRank in EXACT INTEGER arithmetic: ranks live in fixed-point
    * units of `scale`, per-edge contribution is `r div outdeg` (integer
    * division), and the damping d = 0.85 is applied as `(17·s) div 20` —
    * every operation is order-free integer math, so the result is
    * partition-order-independent and bit-equal on any engine (a
    * floating-point PageRank can never sit under an exact-hash gate:
    * the per-node contribution sum depends on partition order).
    * Truncation loses at most outdeg·1/scale of a node's mass per
    * round — noise at scale = 1e12 — and dangling-node mass leaks as in
    * the standard simplified formulation (ranking order is unaffected).
    *
    * Shape per iteration: ONE join of the rank table to the edge list
    * on the source key and ONE aggregation on the destination key —
    * both hash-partitioned by node id, the classic scalable PageRank
    * step (Page et al. 1999; the MapReduce formulation of Malewicz et
    * al.'s Pregel loop). The edge list with its out-degrees is computed
    * once and persisted; iterations re-shuffle only the |V|-row rank
    * table, never the corpus that produced the edges. `iters` is a
    * fixed small constant (rank ordering stabilizes in a few rounds on
    * power-law graphs), so lineage stays shallow — no checkpointing
    * needed at the call sites this serves.
    *
    * Returns (v, rank) for every node, rank in `scale` units.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters=$iters out of range 1..20")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val withDeg = graft.Caches.materialize(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Overflow guard: total mass is |V|·scale, so a single hub can
    // receive aggregate contribution s approaching |V|·scale; the damping
    // step computes 17·s, which must stay below 2^63 — Spark's non-ANSI
    // BIGINT multiply would silently WRAP past that (DuckDB promotes to
    // HUGEINT), breaking the engine-exact contract precisely at web
    // scale. One count() on the (already reused-per-iteration) node set
    // is the price of refusing to corrupt silently.
    val nV = nodes.count()
    require(nV <= Long.MaxValue / 17L / scale,
      s"pageRankInt: |V|=$nV with scale=$scale risks 64-bit overflow in " +
        s"the damping multiply (need |V| <= ${Long.MaxValue / 17L / scale}); " +
        "pass a smaller scale for graphs this large")
    val base = lit(3L * scale / 20L) // (1−d)·scale with d = 17/20
    var ranks = nodes.select(col("v"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      // `div`, not `/`: Spark's `/` on BIGINT is DOUBLE division, which
      // silently loses exactness past 2^53 — integer division is the
      // whole determinism contract here
      val contrib = withDeg
        .join(ranks, col("src") === col("v"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"),
          (base + expr("(17 * coalesce(s, 0L)) div 20")).as("r"))
    }
    ranks
  }

  /** PERSONALIZED PageRank from a trusted SEED set (TrustRank — Gyöngyi,
    * Garcia-Molina & Pedersen, VLDB 2004, public method): identical
    * integer-exact loop to [[pageRankInt]] except the teleport mass
    * lands ONLY on seeds — r₀(v) = scale·seed(v) and the per-round base
    * term is (1−d)·scale for seeds, 0 otherwise — so trust flows
    * outward from the vetted set and a page's score measures its link
    * distance from trust, the crawl-frontier prioritizer / spam
    * demoter a corpus-ingest fleet runs next to raw PageRank. Same
    * scale shape as pageRankInt: one src-keyed join + one dst-keyed
    * aggregate per round over the |V|-row rank table; `seeds` is a
    * 1-column (v) frame joined once into the node table (left join →
    * 0/1 flag), never re-read in the loop. Same 17·s overflow guard.
    * Returns (v, trust) with trust in `scale` units. */
  def personalizedPageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                              seeds: DataFrame, iters: Int,
                              scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters=$iters out of range 1..20")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val withDeg = graft.Caches.materialize(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodes = graft.Caches.track(graft.Caches.materialize(
      e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct()
        .join(seeds.select(col(seeds.columns.head).as("v"))
          .distinct().withColumn("is_seed", lit(1L)), Seq("v"), "left")
        .select(col("v"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    val nV = nodes.count()
    require(nV <= Long.MaxValue / 17L / scale,
      s"personalizedPageRankInt: |V|=$nV with scale=$scale risks 64-bit " +
        "overflow in the damping multiply; pass a smaller scale")
    val base = col("is_seed") * lit(3L * scale / 20L) // (1−d)·scale·seed(v)
    var ranks = nodes.select(col("v"), (col("is_seed") * scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("v"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"), col("is_seed"),
          (base + expr("(17 * coalesce(s, 0L)) div 20")).as("r"))
    }
    ranks.select(col("v"), col("r").as("trust"))
  }

  /** Per-vertex TRIANGLE COUNT + degree over a directed edge list,
    * undirected semantics — the local-clustering diagnostic of a kNN
    * graph (a healthy near-neighbor graph is highly clustered; a
    * near-random one says the embedding space or the candidate
    * generator is broken). Exact integers end to end.
    *
    * Shape: edges canonicalize to distinct (a < b) pairs, then the
    * classic two-join enumeration e(a,b)⋈e(b,c)⋈e(a,c) with a < b < c —
    * each triangle counted exactly once, then unnested to its three
    * corners for the per-vertex aggregate. The ordered-pair orientation
    * IS the scale story (Suri & Vassilvitskii, WWW 2011): orienting
    * every edge low→high id caps the join fan-out per vertex by its
    * forward-degree, and all three joins are plain hash equi-joins on a
    * vertex key — no cross product, skew handled by AQE like any other
    * key join. Vertices in no triangle still report (count 0) via the
    * left join from the degree table. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = graft.Caches.materialize(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perVertex = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** K-CORE PEEL over a directed edge list, undirected semantics — the
    * density filter of a kNN graph (the k-core is the maximal subgraph
    * where every vertex keeps >= k neighbors; peeling away the low-degree
    * fringe isolates the dense semantic clusters that survive curation,
    * while early-peeled vertices are the outliers/singletons a corpus
    * selector down-weights). Matula & Beck 1983's peeling algorithm,
    * unrolled a FIXED number of rounds so the whole model is
    * oracle-verifiable exact-integer arithmetic (the fixpoint form is the
    * CC-style iterate-until-converged loop; a bounded peel is already the
    * useful curation signal — peel_round is a coreness proxy).
    *
    * Each round r computes every surviving vertex's degree in the
    * CURRENT surviving subgraph and removes those with degree < k
    * (isolated vertices peel in round 1 with degree 0). Returns one row
    * per input vertex: (id, peel_round, last_deg) where peel_round is
    * the 1-based round the vertex was removed (−1 = still in the core
    * after `rounds` rounds) and last_deg its degree at the LAST round it
    * participated in (peeled: degree that fell below k; survivors:
    * degree in round `rounds`' subgraph, before that round's removals).
    *
    * Scale shape: edges canonicalize once to distinct (a < b) pairs and
    * persist; each round is TWO vertex-keyed semi-joins of the edge table
    * against the |V|-row survivor set (hash equi-joins — at kNN-graph
    * input |E| <= k·|V|, so a round is linear in k·n), one map-side-
    * combining degree aggregate, and one filter; survivor state persists
    * per round and its predecessor is dropped (the CC/label-prop
    * lineage-truncation discipline). Removed-vertex output accumulates as
    * `rounds` bounded unions — no window, no cross product, no collect. */
  def kcorePeel(vertices: DataFrame, edges: DataFrame,
                srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds out of range 1..16")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The edge canonicalization is the one CORPUS-FACING build (its
    // producer may be a whole kNN-graph pipeline) — materialized under
    // the session's normal AQE regime. The peel loop's states are then
    // built EAGERLY but under withModelLoopConf (AQE off + a
    // width sized from the edge table): with AQE on, the 3-round chain
    // planned ~68 driver jobs (per-stage re-plans + broadcast futures +
    // cache builds) whose submission constants were 4.2 of 5.8 s at
    // sf0.1 while actual task time was 1.5 s; AQE-off collapses each
    // round to a handful of fixed-width narrow stages. Skew needs no
    // AQE here: und is degree-bounded per vertex when it comes from a
    // kNN graph, and the loop keys are vertex ids.
    val und = graft.Caches.materialize(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .persist(lvl))
    // width from the LOADED cache (accurate in-memory stats — a
    // pre-materialization estimate walks the edge-producer's lineage and
    // lands on the 32-wide cap, which planned 32 near-empty ~300 ms SHJ
    // task waves per loop exchange)
    val w = graft.Par.widthFor(und)
    val spark = edges.sparkSession
    graft.Caches.withModelLoopConf(spark, w) {
      // ONE action for the WHOLE peel: the per-round (id, deg) tables
      // stay persist()-marked — round N+1's joins and the final fringe
      // union read each exactly once — but no round runs its own eager
      // count(). A per-round materialize costs a driver job-submission
      // constant per job (the three-materialize-per-round form spent
      // ~3 s of a 4.3 s run at sf0.1 across 15 jobs, against 1.1 s of
      // stage time), so the fold collapses the
      // loop to the und build + one assembled-output job whose stage
      // graph shares the round shuffles (caches fill mid-job; the
      // bounded 3-round lineage needs no checkpoint truncation). The
      // final materialize happens INSIDE withModelLoopConf on purpose:
      // the single job must plan under AQE-off + the loop width —
      // returning a lazy frame would re-plan it at the caller under the
      // session regime (the ~68-driver-job AQE shape the r12 tuning
      // measured and removed).
      var surv = graft.Caches.track(
        vertices.select(col("id")).distinct().persist(lvl))
      val degTables = (1 to rounds).map { _ =>
        // SHUFFLE_HASH on the survivor side: a broadcast would spawn a
        // per-join driver sub-job here (~140 ms of submission constants
        // each) and cannot exist at 100 TB where the survivor set is
        // vertex-sized; a sort-merge fallback would sort the edge table
        // every round. Hash side = survivors, streamed side = edges.
        val e = und.join(surv.select(col("id").as("a")).hint("shuffle_hash"),
            Seq("a"))
          .join(surv.select(col("id").as("b")).hint("shuffle_hash"), Seq("b"))
        // LAZY localCheckpoint, not persist: each round's LOGICAL plan
        // would otherwise embed every prior round's (persist caches
        // execution, not analysis), and the compounding analyzer +
        // CacheManager-canonicalization cost was measured at ~2 s of
        // the row's ~5 s — more than the execution itself. The lazy
        // checkpoint truncates the plan to a LogicalRDD leaf at
        // CONSTRUCTION time (planning each round against shallow
        // leaves, constant per round) while the RDD itself still
        // computes inside the single final job; its blocks serve the
        // next round's joins and the final fringe union, which is the
        // same reuse the persist bought. CC's loop learned this same
        // lesson for the driver-OOM reason; here it is pure latency.
        val deg = surv.join(
              e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
                .groupBy(col("id")).agg(count(lit(1)).as("c")),
              Seq("id"), "left")
            .select(col("id"), coalesce(col("c"), lit(0L)).as("deg"))
            .localCheckpoint(false)
        surv = deg.filter(col("deg") >= k).select(col("id"))
        deg
      }
      val removed = degTables.zipWithIndex.map { case (deg, i) =>
        deg.filter(col("deg") < k)
          .select(col("id"), lit(i + 1).as("peel_round"),
            col("deg").as("last_deg"))
      }.reduce(_ unionAll _)
      graft.Caches.track(graft.Caches.materialize(
        degTables.last.filter(col("deg") >= k)
          .select(col("id"), lit(-1).as("peel_round"), col("deg").as("last_deg"))
          .unionAll(removed)
          .select(col("id"), col("peel_round").cast("int").as("peel_round"),
            col("last_deg").cast("long").as("last_deg"))
          .persist(lvl)))
    }
  }

  /** LABEL PROPAGATION over a directed edge set — semi-supervised
    * labeling of an embedding store from a sparse seed set (the
    * annotate-1%-propagate-the-rest pattern of large-corpus data
    * labeling; Zhu & Ghahramani 2002's graph label propagation, hard
    * majority variant, unrolled a fixed number of rounds so the whole
    * model is oracle-verifiable exact-integer arithmetic).
    *
    * `vertices` = (id, label, is_seed); seeds keep their label forever
    * (round 0). Each round, every still-unlabeled vertex takes the
    * MAJORITY label of its OUT-neighbors' current labels (count DESC,
    * label ASC tie-break — deterministic); vertices whose neighbors are
    * all unlabeled stay unlabeled and may be reached in a later round.
    * Returns one row per vertex: (id, prop_label, round_labeled) with
    * −1/−1 for never-reached vertices.
    *
    * Scale shape: the edge table is k·n rows (k-bounded per vertex by
    * construction when it comes from [[graft.similarity.Vectors.knnGraph]]);
    * each round is ONE map-side-combining (vertex, label) count
    * aggregate, one 1-row-per-vertex argmax via max(struct(c, −label))
    * (no window over anything bigger than a vertex's ≤ k·#labels vote
    * rows), and one vertex-keyed left join — everything linear in k·n
    * with the label state persisted per round and its predecessor
    * dropped (the CC/BPE lineage-truncation discipline). */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var cur = graft.Caches.track(graft.Caches.materialize(
      vertices.select(col("id"),
        when(col("is_seed"), col("label")).as("lab"),
        when(col("is_seed"), lit(0)).otherwise(lit(-1)).cast("int").as("rnd"))
        .persist(lvl)))
    for (r <- 1 to rounds) {
      val votes = e.join(cur.filter(col("lab").isNotNull)
          .select(col("id").as("dst"), col("lab")), Seq("dst"))
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
      // majority with (count DESC, label ASC): max over (c, −label)
      val win = votes.groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("wlab"))
      val prev = cur
      cur = graft.Caches.track(graft.Caches.materialize(
        prev.join(win, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("lab"), col("wlab")).as("lab"),
            when(col("lab").isNotNull, col("rnd"))
              .when(col("wlab").isNotNull, lit(r))
              .otherwise(lit(-1)).cast("int").as("rnd"))
          .persist(lvl)))
      prev.unpersist(false)
    }
    cur.select(col("id"),
      coalesce(col("lab"), lit(-1)).cast("int").as("prop_label"),
      col("rnd").as("round_labeled"))
  }
}
