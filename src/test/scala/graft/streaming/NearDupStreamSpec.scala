package graft.streaming

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class NearDupStreamSpec extends NearDupRunnerScenarios {
  import spark.implicits._

  // Fixture texts with pinned 16-bit simhash geometry at maxDist = 3:
  // A ~ A2 (one token changed → Hamming 1), C far from both (6-7), F
  // far from A and C.
  private val A  = "spark shuffles the hash join across the cluster nodes tonight"
  private val A2 = "spark shuffles the hash join across the cluster nodes today"
  private val C  = "completely unrelated words about gardening tulips and watering cans"
  private val F  = "brand new sentence mentioning quantum chess on a rainy tuesday"

  private def sig(t: String): String =
    Dedup.simhash(Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text")
      .select($"simhash").as[String].collect().head

  test("fixture geometry holds (guards the distances the scenarios rely on)") {
    def dist(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(dist(sig(A), sig(A2)) <= 3)
    assert(dist(sig(A), sig(C)) > 3 && dist(sig(A2), sig(C)) > 3)
    assert(dist(sig(F), sig(A)) > 3 && dist(sig(F), sig(C)) > 3)
  }

  test("streaming near-dup: within-batch, cross-batch, restart, and no-op runs") {
    withTempDir("neardup-stream") { root =>
      val (landing, admitted, store, ckpt) =
        (s"$root/landing", s"$root/admitted", s"$root/store", s"$root/ckpt")
      new java.io.File(landing).mkdirs()
      def land(rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
      def admittedIds(): Set[Long] =
        spark.read.parquet(admitted).select($"id").as[Long].collect().toSet
      def storeSigs(): Set[String] =
        spark.read.parquet(store).select($"simhash").as[String].collect().toSet

      // batch 1: an exact pair (1,2) and a distinct doc (3) — min id survives
      land(Seq((1L, A), (2L, A), (3L, C)))
      NearDupStream.runNearDupStreamOnce(spark, landing, admitted, store, ckpt, maxDist = 3)
      assert(admittedIds() == Set(1L, 3L))
      assert(storeSigs() == Set(sig(A), sig(C)))

      // batch 2 (restart picks up only the new file): 10 is a NEAR-dup of
      // the admitted doc 1 (Hamming 1) → dropped against the store; 11 is
      // an exact replay of 3 → dropped; 12 is new → admitted
      land(Seq((10L, A2), (11L, C), (12L, F)))
      NearDupStream.runNearDupStreamOnce(spark, landing, admitted, store, ckpt, maxDist = 3)
      assert(admittedIds() == Set(1L, 3L, 12L))
      assert(storeSigs() == Set(sig(A), sig(C), sig(F)))

      // no new data → no-op
      NearDupStream.runNearDupStreamOnce(spark, landing, admitted, store, ckpt, maxDist = 3)
      assert(admittedIds() == Set(1L, 3L, 12L))

      // direct replay of batch 1 through the batch core is idempotent
      // against the store (every signature already present → nothing admitted)
      val replay = NearDupStream.admitBatch(
        Seq((1L, A), (2L, A), (3L, C)).toDF("doc_id", "text"),
        spark.read.parquet(store), maxDist = 3)
      assert(replay.isEmpty)
    }
  }

  test("admitBatch with an empty store admits cluster minima only") {
    val empty = Seq.empty[String].toDF("simhash")
    val out = NearDupStream.admitBatch(
      Seq((5L, A), (6L, A2), (7L, C)).toDF("doc_id", "text"), empty, maxDist = 3)
      .select($"id").as[Long].collect().toSet
    assert(out == Set(5L, 7L))   // 6 clusters with 5 (Hamming 1): min id wins
  }

  private val run16: Runner = NearDupStream.runNearDupStreamOnce(
    spark, _, _, _, _, maxDist = 3)

  test("16-bit per-batch-file commits: layout, and runner-level replay of every crash point") {
    perBatchCommitReplay(run16, A, C, F)
  }

  test("16-bit runner over-bound fallback (maxCollectSigs=0) runs the distributed path with identical tables") {
    overBoundFallback(run16, A, A2, C, F)
  }
}
