package graft.streaming

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Bounded-store 64-bit streaming admission: within-batch, cross-batch,
  * eviction, sliding-window re-admission, restart, no-op, and replay —
  * the 16-bit NearDupStreamSpec scenario pattern plus the store-bound
  * behaviors the 64-bit signature width forces. */
class NearDup64StreamSpec extends NearDupRunnerScenarios {
  import spark.implicits._

  // Fixture texts with pinned 64-BIT simhash geometry at maxDist = 5:
  // A ~ A2 (one token changed → Hamming 5); C/F/G mutually far (≥ 22)
  // and far from A/A2 (≥ 27).
  private val A  = "spark shuffles the hash join across the cluster nodes tonight"
  private val A2 = "spark shuffles the hash join across the cluster nodes early"
  private val C  = "completely unrelated words about gardening tulips and watering cans"
  private val F  = "brand new sentence mentioning quantum chess on a rainy tuesday"
  private val G  = "yet another fully distinct paragraph regarding submarine cartography techniques"

  private def sig(t: String): String =
    Dedup.simhash64(Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text")
      .select($"simhash").as[String].collect().head

  test("64-bit fixture geometry holds (guards the distances the scenarios rely on)") {
    def dist(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(dist(sig(A), sig(A2)) <= 5)
    for (far <- Seq(C, F, G)) {
      assert(dist(sig(A), sig(far)) > 5 && dist(sig(A2), sig(far)) > 5)
    }
    assert(dist(sig(C), sig(F)) > 5 && dist(sig(C), sig(G)) > 5 &&
      dist(sig(F), sig(G)) > 5)
  }

  test("bounded 64-bit stream: within-batch, cross-batch, eviction, window re-admission, replay") {
    withTempDir("neardup64-stream") { root =>
      val (landing, admitted, store, ckpt) =
        (s"$root/landing", s"$root/admitted", s"$root/store", s"$root/ckpt")
      new java.io.File(landing).mkdirs()
      def land(rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
      def run(): Unit = NearDupStream.runNearDup64StreamOnce(
        spark, landing, admitted, store, ckpt, maxDist = 5, capacity = 1)
      def admittedIds(): Set[Long] =
        spark.read.parquet(admitted).select($"id").as[Long].collect().toSet
      def storeRows(): Set[(String, Long)] =
        spark.read.parquet(store).select($"simhash", $"seq_batch")
          .as[(String, Long)].collect().toSet

      // batch 0: exact pair (1,2) clusters within the batch (min id wins),
      // 3 is distinct — both admitted, store = batch-0 signatures
      land(Seq((1L, A), (2L, A), (3L, C)))
      run()
      assert(admittedIds() == Set(1L, 3L))
      assert(storeRows() == Set((sig(A), 0L), (sig(C), 0L)))

      // batch 1 (restart picks up only the new file): 11 is an exact dup of
      // the admitted 3 → dropped by the CROSS-BATCH window match; 10 is new
      land(Seq((10L, F), (11L, C)))
      run()
      assert(admittedIds() == Set(1L, 3L, 10L))
      // eviction LAGS one batch: batch 0 left the match window (capacity=1
      // is covered by batch 1 alone) but is still in storage
      assert(storeRows() == Set((sig(A), 0L), (sig(C), 0L), (sig(F), 1L)))

      // batch 2: new doc admitted; batch 0 now leaves STORAGE too
      land(Seq((12L, G)))
      run()
      assert(admittedIds() == Set(1L, 3L, 10L, 12L))
      assert(storeRows() == Set((sig(F), 1L), (sig(G), 2L)))

      // batch 3: 20 is a near-dup (Hamming 5) of the EVICTED doc 1 →
      // re-admitted BY DESIGN (sliding-window semantics); 21 is an exact
      // dup of 10 whose signature is in storage but OUTSIDE the capacity-1
      // match window → also re-admitted (the window, not raw storage, is
      // the match set — that asymmetry is what makes replay exact)
      land(Seq((20L, A2), (21L, F)))
      run()
      assert(admittedIds() == Set(1L, 3L, 10L, 12L, 20L, 21L))
      assert(storeRows() == Set((sig(G), 2L), (sig(A2), 3L), (sig(F), 3L)))

      // no new data → no-op
      run()
      assert(admittedIds() == Set(1L, 3L, 10L, 12L, 20L, 21L))

      // REPLAY of batch 3 (crash between store swap and checkpoint commit):
      // the batch core re-runs against what the runner would reconstruct —
      // trim(seq < 3) ∪ rows(seq = 3) — and must admit NOTHING: originally
      // dropped docs re-drop against the same window, originally admitted
      // docs match their own stored signatures at distance 0
      val committed = spark.read.parquet(store)
      val matchSet = NearDupStream.trimToCapacity(
          committed.filter($"seq_batch" < 3), capacity = 1)
        .select($"simhash")
        .unionByName(committed.filter($"seq_batch" === 3).select($"simhash"))
      val replay = NearDupStream.admitBatch64(
        Seq((20L, A2), (21L, F)).toDF("doc_id", "text"), matchSet,
        maxDist = 5, capacity = 1)
      assert(replay.isEmpty)
    }
  }

  test("evict gate harness: FIFO eviction fires (re-admission) and the trim conditional holds") {
    def runGate(rows: Seq[(Long, String)]): Set[Long] = withTempDir("nd64-evict-fix") { dir =>
      val p = new java.io.File(dir, "documents.parquet").getAbsolutePath
      try {
        rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(p)
        NearDupStream.runDocNearDup64EvictGateOnce(spark, p, maxDist = 3)
          .select($"id").as[Long].collect().toSet
      } finally graft.Fs.dropDerived(spark, Seq(p)) // the parity template outlives no source
    }
    // Branch 1 — eviction FIRES: n=5 → capacity 1; batch 1 (ids 1,4,7)
    // admits 3 distinct docs ≥ capacity, so batch 2's window is batch 1
    // only and doc 2 — an EXACT dup of the batch-0 doc 0 — is
    // RE-ADMITTED past the evicted signature (the boundedness trade).
    assert(runGate(Seq((0L, A), (1L, C), (4L, F), (7L, G), (2L, A))) ==
      Set(0L, 1L, 4L, 7L, 2L))
    // Branch 2 — trim RETAINS batch 0: n=9 → capacity max(1, 9/4) = 2;
    // batch 1's docs are mutual exact dups (one admission < capacity 2),
    // so the window extends to batch 0 and the same exact dup is DROPPED.
    assert(runGate(Seq((0L, A), (3L, F), (6L, G),
      (1L, C), (4L, C), (7L, C),
      (2L, A), (5L, "solar powered bicycles deserve dedicated mountain lanes"),
      (8L, "the archive catalogs medieval manuscripts with infrared scanners"))) ==
      Set(0L, 3L, 6L, 1L, 5L, 8L))
  }

  private val run64: Runner = NearDupStream.runNearDup64StreamOnce(
    spark, _, _, _, _, maxDist = 5, capacity = 1)

  test("per-batch-file commits: layout, and runner-level replay of every crash point") {
    perBatchCommitReplay(run64, A, C, F)
  }

  test("admitBatch64 with an empty match set admits cluster minima only") {
    val empty = Seq.empty[String].toDF("simhash")
    val out = NearDupStream.admitBatch64(
      Seq((5L, A), (6L, A2), (7L, C)).toDF("doc_id", "text"), empty,
      maxDist = 5, capacity = 1)
      .select($"id").as[Long].collect().toSet
    assert(out == Set(5L, 7L)) // 6 clusters with 5 (Hamming 5): min id wins
  }

  test("admitLocal is decision-identical to the distributed admitBatch64 / admitBatch (path-vs-path)") {
    // corpora crafting every decision branch: exact within-batch dup
    // (contraction, zero edges), near-dup chain (A~A2), distinct
    // singletons, store drops at distance 0 and at maxDist, store
    // non-drops past maxDist, and an empty match set
    val batch = Seq((9L, A), (2L, A), (5L, A2), (3L, C), (7L, F), (8L, G))
    val stores = Seq(
      Seq.empty[String],
      Seq(sig(C)),            // distance-0 drop of 3
      Seq(sig(A2)),           // drops the A/A2 cluster's survivor (dist <= 5)
      Seq(sig(F), sig(G)),    // drops 7 and 8
      Seq(sig(C), sig(C)))    // duplicate store sigs (distinct() semantics)
    for (store <- stores; maxDist <- Seq(0, 3, 5)) {
      val dist = NearDupStream.admitBatch64(
          batch.toDF("doc_id", "text"), store.toDF("simhash"), maxDist,
          capacity = 1)
        .select($"id", $"simhash").as[(Long, String)].collect().toSet
      val local = NearDupStream.admitLocal(
        batch.map { case (id, t) => (id, sig(t)) }, store, maxDist).toSet
      assert(local == dist, s"store=$store maxDist=$maxDist")
    }
    // 16-bit width through the same local core vs admitBatch
    def sig16(t: String): String =
      Dedup.simhash(Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text")
        .select($"simhash").as[String].collect().head
    for (store16 <- Seq(Seq.empty[String], Seq(sig16(C)), Seq(sig16(A)));
         maxDist <- Seq(0, 2)) {
      val dist = NearDupStream.admitBatch(
          batch.toDF("doc_id", "text"), store16.toDF("simhash"), maxDist)
        .select($"id", $"simhash").as[(Long, String)].collect().toSet
      val local = NearDupStream.admitLocal(
        batch.map { case (id, t) => (id, sig16(t)) }, store16, maxDist).toSet
      assert(local == dist, s"store16=$store16 maxDist=$maxDist")
    }
  }

  test("runner over-bound fallback (maxCollectSigs=0) runs the distributed path with identical tables") {
    overBoundFallback(run64, A, A2, C, F)
  }

  test("trimToCapacity keeps the newest batches covering capacity, whole batches only") {
    val older = Seq(("s1", 0L), ("s2", 0L), ("s3", 1L), ("s4", 2L), ("s5", 2L))
      .toDF("simhash", "seq_batch")
    // capacity 1: batch 2 alone covers it
    assert(NearDupStream.trimToCapacity(older, 1).select($"seq_batch")
      .as[Long].collect().toSet == Set(2L))
    // capacity 3: batch 2 (2 rows) + batch 1 (1 row) reach 3
    assert(NearDupStream.trimToCapacity(older, 3).select($"seq_batch")
      .as[Long].collect().toSet == Set(1L, 2L))
    // capacity 4: crossing batch 0 is kept WHOLE (bound < cap + 2·B)
    assert(NearDupStream.trimToCapacity(older, 4).count() == 5)
    // more capacity than rows: keep everything
    assert(NearDupStream.trimToCapacity(older, 100).count() == 5)
    // empty older → empty window
    assert(NearDupStream.trimToCapacity(older.limit(0), 1).isEmpty)
  }
}
