package graft

import org.apache.spark.graft.Bus
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup

class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("release() unpersists tracked frames (storage level back to NONE)") {
    val df = Seq(1, 2, 3).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    Caches.track(df)
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    Caches.release()
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("memo() builds once per key per epoch, rebuilds after release(), propagates failure") {
    var builds = 0
    def build(): Int = { builds += 1; builds }
    assert(Caches.memo("memo-spec-k1")(build()) == 1)
    assert(Caches.memo("memo-spec-k1")(build()) == 1, "same key must reuse")
    assert(Caches.memo("memo-spec-k2")(build()) == 2, "distinct key must build")
    Caches.release()
    assert(Caches.memo("memo-spec-k1")(build()) == 3,
      "release() starts a fresh epoch — stale handles must not be handed out")
    // a failed build must not poison the key: the next caller retries
    intercept[RuntimeException] {
      Caches.memo("memo-spec-k3")(throw new RuntimeException("boom"))
    }
    assert(Caches.memo("memo-spec-k3")(build()) == 4,
      "a failed build must leave the key buildable")
    Caches.release()
  }

  test("pair-miner row-count memo bypasses per-micro-batch (LogicalRDD) frames") {
    // Every foreachBatch body hands the library a LogicalRDD-rooted
    // frame whose canonicalized plan is unique per batch: memoizing its
    // row count can never hit and would grow the driver memo map (and
    // retain each batch's plan + RDD reference) for the lifetime of a
    // stream. The banding self-sizers must count such frames WITHOUT
    // adding memo entries — while plan-stable batch frames still memoize.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sig = "01" * 32
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("simhash", StringType)))
    val rdd = spark.sparkContext.parallelize(
      (1L to 4L).map(i => Row(i, sig)))
    val perBatch = spark.createDataFrame(rdd, schema)
    val before = Caches.memoCount
    Dedup.simhash64NearDupPairsFromSigs(perBatch, maxDist = 3).count()
    assert(Caches.memoCount == before,
      "a LogicalRDD-rooted frame must not add memo entries")
    // a second distinct batch frame (a new RDD, as a stream produces)
    // must not add one either
    val perBatch2 = spark.createDataFrame(
      spark.sparkContext.parallelize((5L to 8L).map(i => Row(i, sig))), schema)
    Dedup.simhash64NearDupPairsFromSigs(perBatch2, maxDist = 3).count()
    assert(Caches.memoCount == before,
      "each micro-batch frame would otherwise leak one entry per batch")
    // plan-stable frames keep the cross-consumer memo
    val stable = spark.range(4).selectExpr("id", s"'$sig' AS simhash")
    Dedup.simhash64NearDupPairsFromSigs(stable, maxDist = 3).count()
    assert(Caches.memoCount == before + 1,
      "batch frames must still memoize their row-count estimate")
    Caches.release()
  }

  test("materialize() builds eagerly, once per plan per release() epoch") {
    // persist() alone already reports a non-NONE storage level, so the
    // eager count() and the once-per-epoch dedup are observed through the
    // job tracker: the first call submits build job(s) under its job
    // group, the repeat submits none. The tracker is fed by the listener
    // bus, so it is drained before each read.
    val sc = spark.sparkContext
    def jobs(g: String): Int = { Bus.drain(sc); sc.statusTracker.getJobIdsForGroup(g).length }
    val base = Seq(1, 2, 3).toDF("x")
    val df = base.persist(StorageLevel.MEMORY_AND_DISK)
    sc.setJobGroup("graft-mat-1", "first materialize")
    try Caches.materialize(df) finally sc.clearJobGroup()
    assert(jobs("graft-mat-1") >= 1, "eager build must submit a job")
    assert(df.storageLevel != StorageLevel.NONE)
    // same canonical plan again within the epoch: registered, NOT re-counted
    sc.setJobGroup("graft-mat-2", "repeat materialize")
    try Caches.materialize(df) finally sc.clearJobGroup()
    assert(jobs("graft-mat-2") == 0, "repeat within the epoch must not re-count")
    Caches.release()
    assert(df.storageLevel == StorageLevel.NONE)
    // a fresh epoch materializes again (a real build job this time)
    val df2 = base.persist(StorageLevel.MEMORY_AND_DISK)
    sc.setJobGroup("graft-mat-3", "fresh epoch materialize")
    try Caches.materialize(df2) finally sc.clearJobGroup()
    assert(jobs("graft-mat-3") >= 1, "fresh epoch must rebuild")
    assert(df2.storageLevel != StorageLevel.NONE)
    Caches.release()
  }

  test("a failed eager build is not marked built — the retry re-attempts the count") {
    val df = Seq(1, 2, 3).toDS()
      .map(x => if (x >= 1) throw new RuntimeException("boom") else x)
      .toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    intercept[Exception](Caches.materialize(df))
    // the key must NOT have been recorded as built: a second call for the
    // same plan re-attempts the build (and fails the same way) instead of
    // silently skipping the eager count for the rest of the epoch
    intercept[Exception](Caches.materialize(df))
    Caches.release()
  }

  test("a concurrent materialize of the same plan waits for the in-flight build") {
    // the latch lives in a companion-object static: the task closure is
    // serialized even in local mode, so a captured latch would count down
    // a deserialized COPY
    CachesSpec.buildStarted = new java.util.concurrent.CountDownLatch(1)
    val started = CachesSpec.buildStarted
    val df = Seq(1, 2, 3).toDF("x").coalesce(1)
      .mapPartitions { it =>
        CachesSpec.buildStarted.countDown(); Thread.sleep(800); it
      }(org.apache.spark.sql.Encoders.row(Seq(1).toDF("x").schema))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { Caches.materialize(df); System.nanoTime() }
      })
      // enter materialize only once the build is genuinely in flight
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      val b = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { Caches.materialize(df); System.nanoTime() }
      })
      val bDone = b.get(30, java.util.concurrent.TimeUnit.SECONDS)
      a.get(30, java.util.concurrent.TimeUnit.SECONDS)
      // the old behavior returned immediately (re-opening the lazy-build
      // race); the waiter must block until the in-flight count finishes
      assert(bDone - t0 >= 300L * 1000 * 1000,
        s"second caller returned in ${(bDone - t0) / 1000000} ms — did not await the build")
    } finally {
      pool.shutdownNow()
      Caches.release()
    }
  }

  test("a memo build racing release() is not published into the next epoch") {
    // Builder starts in epoch E, release() bumps to E+1 mid-build: the
    // builder's caller still gets its value, but the memo map must NOT
    // retain it — the next caller rebuilds (its persisted frames were
    // unpersisted by the release).
    val inBuild = new java.util.concurrent.CountDownLatch(1)
    val mayFinish = new java.util.concurrent.CountDownLatch(1)
    var builds = 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val f = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Caches.memo("memo-race-k") {
          builds += 1; inBuild.countDown()
          assert(mayFinish.await(30, java.util.concurrent.TimeUnit.SECONDS))
          builds
        }
      })
      assert(inBuild.await(30, java.util.concurrent.TimeUnit.SECONDS))
      Caches.release() // epoch bump while the build is in flight
      mayFinish.countDown()
      assert(f.get(30, java.util.concurrent.TimeUnit.SECONDS) == 1,
        "the racing builder's own caller still gets the value")
      assert(Caches.memo("memo-race-k") { builds += 1; builds } == 2,
        "the raced value must not be memoized into the new epoch")
    } finally {
      pool.shutdownNow()
      Caches.release()
    }
  }

  test("dedup pipelines register their internal persists with the registry") {
    val before = Caches.size
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5).count()
    // set table + order index both registered
    assert(Caches.size >= before + 2)
    Caches.release()
    assert(Caches.size == 0)
  }
}

object CachesSpec {
  /** JVM-static build-started signal for the concurrency test (task
    * closures are serialized even in local mode). */
  @volatile var buildStarted: java.util.concurrent.CountDownLatch = _
}
