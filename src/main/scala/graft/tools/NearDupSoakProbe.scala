package graft.tools

import graft.Sessions
import org.apache.hadoop.fs.Path

/** LONG-LIVED-STREAM SOAK for the bounded-store 64-bit near-dup
  * lifecycle (r15 verdict item 3): the gates drain 2-3 batches, which
  * proves admission semantics but not the LIFETIME claims — store
  * < capacity + 2·(largest batch's admissions) rows, flat persisted-RDD
  * count (no CacheManager leak from the per-batch persists), flat
  * `Caches.memoCount` (the LogicalRDD memo bypass) — so this probe
  * drains 50-100 batches through the REAL
  * [[graft.streaming.NearDupStream.runNearDup64StreamOnce]] lifecycle
  * and samples the curve every segment.
  *
  * Mechanics: all `nBatches` parity landing files are staged up front
  * (the shared gate staging, so batch composition matches the gated
  * lifecycle exactly), then REVEALED to the landing dir in `segments`
  * increments with an AvailableNow drain after each reveal — every
  * segment boundary therefore also exercises the checkpoint RESUME path
  * the replay invariant documents. After each drain the probe records
  * (batches drained, store rows, admitted rows, persistent RDDs,
  * memoCount, wall) and ASSERTS the three boundedness claims; a
  * violated bound aborts loudly rather than recording a bad curve.
  *
  * Usage: runMain graft.tools.NearDupSoakProbe <sfDir> [nBatches] [segments]
  */
object NearDupSoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val docsPath = sfDir + "/documents.parquet"
    val nBatches = if (args.length > 1) args(1).toInt else 100
    val segments = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.build(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    require(nBatches >= segments,
      s"nBatches=$nBatches < segments=$segments: a segment would reveal " +
        "zero files and the store read would fail before any drain")
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val capacity = math.max(1L, nDocs / 4)
    // admissions per batch ≤ batch size — measured, not assumed uniform:
    // gapped/strided doc_ids can load one parity class far past ⌈n/B⌉
    // and an assumed bound would abort a healthy soak
    val maxBatchRows = docs
      .groupBy(org.apache.spark.sql.functions.expr(s"doc_id % $nBatches"))
      .count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .head.getLong(0) // same % expression stageParityLanding partitions by
    val storeBound = capacity + 2 * maxBatchRows
    val root = java.nio.file.Files.createTempDirectory("nd64soak_").toFile
    try {
      val staged = new Path(new java.io.File(root, "staged").toURI)
      val fs = graft.Fs.of(spark, staged)
      graft.streaming.NearDupStream.stageParityLanding(spark, docsPath, staged, nBatches)
      // reveal progressively from a side dir: stageParityLanding wrote
      // b0..b(N-1) into `staged`; the live landing starts empty
      val landing = new java.io.File(root, "live"); landing.mkdirs()
      val admittedDir = new java.io.File(root, "admitted").getAbsolutePath
      val storeDir = new java.io.File(root, "store").getAbsolutePath
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      val files = fs.listStatus(staged).filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getModificationTime).map(_.getPath)
      // the nBatches>=segments pre-check is necessary but NOT sufficient
      // (r16 advice): stageParityLanding lands NO file for an empty
      // parity class, so the STAGED count can still fall below
      // `segments` on gapped doc_id spaces — and the first zero-reveal
      // segment would then read storeDir before any batch ever ran
      require(files.length >= segments,
        s"staged files=${files.length} < segments=$segments (empty parity " +
          "classes landed no file): a segment would reveal zero files and " +
          "the store read would fail before any drain")
      println(s"[soak] docs=$nDocs batches=${files.length} capacity=$capacity " +
        s"storeBound<$storeBound segments=$segments")
      println("[soak] drained  store_rows  admitted  persistent_rdds  memo_count  wall_s")
      var drained = 0
      var rddBaseline = -1
      var memoBaseline = -1
      for (seg <- 1 to segments) {
        val upto = seg * files.length / segments
        files.slice(drained, upto).foreach { f =>
          val tgt = new Path(new Path(landing.toURI), f.getName)
          require(fs.rename(f, tgt), s"rename failed: $f -> $tgt")
          // staging mtimes survive the rename; order stays parity order
        }
        drained = upto
        val t0 = System.nanoTime()
        graft.streaming.NearDupStream.runNearDup64StreamOnce(spark,
          landing.getAbsolutePath, admittedDir, storeDir, ckpt,
          maxDist = 3, capacity = capacity)
        val wall = (System.nanoTime() - t0) / 1e9
        val storeRows = spark.read.parquet(storeDir).count()
        val admitted = spark.read.parquet(admittedDir).count()
        val rdds = spark.sparkContext.getPersistentRDDs.size
        val memos = graft.Caches.memoCount
        println(f"[soak] $drained%7d  $storeRows%10d  $admitted%8d  " +
          f"$rdds%15d  $memos%10d  $wall%6.1f")
        require(storeRows < storeBound,
          s"STORE BOUND VIOLATED at batch $drained: $storeRows >= $storeBound")
        if (rddBaseline < 0) { rddBaseline = rdds; memoBaseline = memos }
        require(rdds <= rddBaseline,
          s"CACHE LEAK at batch $drained: $rdds persistent RDDs > baseline $rddBaseline")
        require(memos <= memoBaseline,
          s"MEMO LEAK at batch $drained: $memos entries > baseline $memoBaseline")
      }
      println(s"[soak] PASS: $drained batches, store<$storeBound held, " +
        "persistent RDDs and memoCount flat")
    } finally graft.Fs.deleteRecursively(root)
    spark.stop()
  }
}
