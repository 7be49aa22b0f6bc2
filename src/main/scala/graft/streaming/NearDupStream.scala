package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup

/** STREAMING near-dup deduplication — the continuous-ingest form of the
  * simhash dedup tier: each micro-batch of documents is admitted against
  * a persisted SIGNATURE STORE, near-dups (within-batch or vs anything
  * ever admitted) are dropped, and the store grows by the admitted
  * signatures.
  *
  * Why foreachBatch and not a stateful operator: the near-dup decision
  * for one document spans its (maxDist+1) chunk buckets, so a
  * flatMapGroupsWithState keyed by bucket cannot decide locally and
  * would need a second stateful combine per doc; the batch formulation
  * reuses the verified cluster/match machinery, keeps the decision
  * deterministic given batch order (the streaming contract: earlier
  * batches win; within a batch, min doc id wins), and its state — the
  * signature store — is BOUNDED BY THE 16-BIT SIGNATURE SPACE (≤ 2^16
  * rows) no matter how many documents ever streamed, so every batch's
  * store check is one broadcast join. Both output tables commit
  * PER-BATCH-FILE: one partition directory per micro-batch, staged and
  * atomically renamed (crash-safe), so a batch writes O(batch) rows no
  * matter how much was ever admitted, and a replayed batch rewrites only
  * its OWN directory — idempotent on top of the checkpoint's
  * exactly-once file offsets (which also guarantee a doc id arrives in
  * at most one batch, keeping the admitted dirs' union id-deduped
  * without any cross-batch shuffle).
  */
object NearDupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Pure batch core (also the foreachBatch body): near-dup admission of
    * one batch against a signature store. Within-batch clusters keep
    * their min doc id; survivors with any store signature within
    * `maxDist` are dropped. Returns the admitted (id, simhash) rows. */
  def admitBatch(batch: DataFrame, storeSigs: DataFrame, maxDist: Int): DataFrame = {
    val sigs = Dedup.simhash(batch, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // measured-guard clustering (the X231 lesson back-ported to the
    // 16-bit lifecycle): the analytic worst-case guard prices the whole
    // 2^16 space and sent every micro-batch — graphs of a few edges —
    // through iterated distributed CC, ~4× the lifecycle's data cost in
    // per-round scheduling constants; the measured pair count routes
    // batch-sized graphs to the driver union-find instead
    val dropped = Dedup.simhashClustersMeasured(sigs, maxDist)
      .filter(col("id") =!= col("cluster_id")).select(col("id"))
    val survivors = sigs.join(dropped, Seq("id"), "left_anti")
    val matched = Dedup.simhashStoreMatches(survivors, storeSigs, maxDist)
    val out = survivors.join(matched, Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    sigs.unpersist(false)
    out
  }

  /** PER-BATCH FILE COMMITS (round 18, the X231 doc's deployment sketch
    * made the implementation): both output tables are laid out as one
    * Hive-style partition directory per micro-batch
    * (`<dir>/seq_batch=N/`), so a batch commits O(batch) rows — stage a
    * sibling dot-dir, one atomic rename — instead of rewriting
    * O(total-admitted) parquet, and whole-batch FIFO eviction is a
    * DIRECTORY DELETE, O(1) metadata. Readers are unchanged
    * (`spark.read.parquet(dir)` partition-discovers `seq_batch`; the
    * store's window filter `seq_batch < N` becomes a partition-PRUNED
    * listing), and the cross-batch admitted dedup/distinct shuffles the
    * old whole-table rewrites paid per batch are gone: per-batch
    * admitted id sets are disjoint under the file source's exactly-once
    * offsets, and an admitted SIGNATURE never recurs while in the match
    * window (distance 0 ≤ maxDist always matches), so the union of the
    * committed dirs IS the deduped table. At 100 TB this is the commit
    * shape that makes the lifecycle deployable: per-batch cost is
    * independent of how many documents ever streamed. */

  /** Stage `df` under `<dir>/.stage_<seq>` (dot-prefixed — invisible to
    * Spark's file listing even if a crash leaks it) and atomically swap
    * it into the live `<dir>/seq_batch=<seq>` partition directory. The
    * write is an ACTION, so `df` — which may read the live dirs — is
    * fully materialized before anything moves. */
  private def commitSeqDir(df: DataFrame, dir: String, seq: Long): Unit = {
    val base = new java.io.File(dir)
    base.mkdirs()
    val stage = new java.io.File(base, s".stage_$seq")
    df.write.mode("overwrite").parquet(stage.getAbsolutePath)
    val live = new java.io.File(base, s"seq_batch=$seq")
    if (live.exists()) graft.Fs.deleteRecursively(live)
    if (!stage.renameTo(live))
      throw new IllegalStateException(s"swap failed: $stage -> $live")
  }

  /** The committed batch ids under a per-batch table dir (the
    * `seq_batch=N` partition dirs; a crash-leaked `.stage_*` never
    * matches). Empty when the dir does not exist — a first run. */
  private def committedSeqs(dir: String): Seq[Long] = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    fs.collect {
      case f if f.isDirectory && f.getName.startsWith("seq_batch=") =>
        f.getName.stripPrefix("seq_batch=").toLong
    }.toSeq
  }

  /** Read a per-batch table dir with the partition column pinned to the
    * given schema (partition-value INFERENCE would type `seq_batch` as
    * int and break long consumers), or an empty frame before the first
    * commit. */
  private def readSeqTable(s: SparkSession, dir: String,
                           schema: StructType): DataFrame =
    if (committedSeqs(dir).nonEmpty) s.read.schema(schema).parquet(dir)
    else s.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Exact row count of one committed batch dir from the parquet FOOTERS
    * — driver-side file metadata, no Spark job: the trim's
    * per-retained-batch count aggregate priced one scheduling-constant
    * job per micro-batch for a model-sized answer the footers already
    * hold. O(files in the dir) opens, each reading only the footer. */
  private def footerRowCount(dir: java.io.File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Collect cutover for the per-micro-batch admission (r19, the
    * union-find / `maxCollectWords` precedent applied to the streaming
    * tier): when the batch's signatures AND the match window both fit
    * under this bound, the whole admission decision — within-batch
    * clustering, store matching — runs driver-side ([[admitLocal]]),
    * collapsing the ~7 Spark jobs of per-plan scheduling constants a
    * micro-batch paid (sigCount + pair persist/count/collect +
    * admit-materialize + broadcast builds; at sf0.1 a 2-batch drain
    * ran 23 jobs / 2.6 s of job time) to ONE bounded
    * collect plus the two per-batch-file commit writes. The sig table
    * is ~(72 B)/row — the 1M default is ~75 MB of driver heap, the
    * CAPACITY.md envelope. Above the bound (production-sized batches or
    * windows) the distributed path below runs unchanged — it is the
    * 100 TB path, and [[admitLocal]] is spec-pinned bit-identical to it
    * (NearDup64StreamSpec path-vs-path). 0 disables. */
  val MaxCollectSigsConf = "spark.graft.stream.maxCollectSigs"
  val MaxCollectSigsDefault: Long = 1000000L

  private def maxCollectSigs(s: SparkSession): Long =
    s.conf.getOption(MaxCollectSigsConf).map(_.toLong)
      .getOrElse(MaxCollectSigsDefault)

  /** Driver-side micro-batch admission — the EXACT semantics of
    * [[admitBatch]]/[[admitBatch64]] on collected rows (width-generic:
    * the band layout derives from the signature string length, and the
    * banded-candidates + exact-Hamming-verify structure is the same
    * pigeonhole argument as the distributed pair generators, so the
    * decision set is identical regardless of band width):
    *   1. within-batch signature-CONTRACTED clustering — nodes = the
    *      distinct signatures, edges = Hamming ≤ maxDist, components by
    *      union-find; every ≥2-doc component keeps its min doc id
    *      (identical-signature docs share a node, so exact dups cluster
    *      with zero edges);
    *   2. store matching — a surviving doc whose signature is within
    *      `maxDist` of ANY match-set signature is dropped.
    * Returns the admitted (id, simhash) rows (input order). */
  private[streaming] def admitLocal(batch: Seq[(Long, String)],
                                    matchSet: Iterable[String],
                                    maxDist: Int): Seq[(Long, String)] = {
    if (batch.isEmpty) return Seq.empty
    val sigLen = batch.head._2.length
    val bounds = Dedup.chunkBounds(sigLen, maxDist + 1)
    def bands(sig: String): Seq[(Int, String)] =
      bounds.zipWithIndex.map { case ((st, len), i) =>
        (i, sig.substring(st - 1, st - 1 + len)) }
    // conv(substring)-equivalent integer halves: a 64-char signature
    // splits at 32 (a sign-bit-set 64-bit value does not survive conv's
    // decimal round-trip — the distributed path's own reasoning); a
    // 16-char one parses whole.
    def halves(sig: String): (Long, Long) =
      if (sig.length <= 32) (0L, java.lang.Long.parseLong(sig, 2))
      else (java.lang.Long.parseLong(sig.substring(0, 32), 2),
        java.lang.Long.parseLong(sig.substring(32), 2))
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    import scala.collection.mutable
    val distinctSigs = batch.map(_._2).distinct
    val sigHalves = distinctSigs.iterator.map(s => s -> halves(s)).toMap
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) {
        parent(r) = parent(parent(r)); r = parent(r)
      }
      r
    }
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[String]]
    distinctSigs.foreach { s =>
      bands(s).foreach(b =>
        buckets.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += s)
    }
    buckets.values.foreach { bucket =>
      var i = 0
      while (i < bucket.length) {
        var j = i + 1
        while (j < bucket.length) {
          if (ham(sigHalves(bucket(i)), sigHalves(bucket(j))) <= maxDist) {
            val ra = find(bucket(i)); val rb = find(bucket(j))
            if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          }
          j += 1
        }
        i += 1
      }
    }
    val droppedIds = mutable.HashSet.empty[Long]
    batch.groupBy { case (_, s) => find(s) }.values.foreach { docs =>
      if (docs.size > 1) {
        val minId = docs.iterator.map(_._1).min
        docs.foreach { case (id, _) => if (id != minId) droppedIds += id }
      }
    }
    val survivors = batch.filterNot { case (id, _) => droppedIds(id) }
    val storeSet = matchSet.toSet
    if (storeSet.isEmpty) return survivors
    val storeBuckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[(Long, Long)]]
    storeSet.foreach { s =>
      val h = halves(s)
      bands(s).foreach(b =>
        storeBuckets.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += h)
    }
    val matchedSigs = survivors.map(_._2).distinct.filter { s =>
      val h = sigHalves(s)
      bands(s).exists(b =>
        storeBuckets.get(b).exists(_.exists(sh => ham(h, sh) <= maxDist)))
    }.toSet
    survivors.filterNot { case (_, s) => matchedSigs(s) }
  }

  /** Bounded head-collect of one micro-batch's signature table: Some
    * when it fits under the cutover bound (the one Spark job of the
    * driver-path batch), None → the caller runs the distributed
    * admission unchanged. */
  private def collectBatchSigs(sigs: DataFrame, maxSigs: Long,
                               tag: String): Option[Array[(Long, String)]] = {
    val lim = math.min(maxSigs, (Int.MaxValue - 2).toLong).toInt
    val rows = tagged(sigs.sparkSession, tag) { sigs.head(lim + 1) }
    if (rows.length > lim) None
    else Some(rows.map(r => (r.getLong(0), r.getString(1))))
  }

  /** Signature strings of one committed store batch dir, via Spark (one
    * small scan job — replay/restart only on the cached path below). */
  private def readSeqSigs(s: SparkSession, dir: java.io.File): Seq[String] =
    s.read.parquet(dir.getAbsolutePath)
      .select(col("simhash")).collect().map(_.getString(0)).toSeq

  /** Cache-through read of a retained store batch's signatures. The
    * cache is PER RUNNER INVOCATION (created at stream start, dead with
    * it): within one drain the runner itself wrote every retained dir's
    * rows (cache hit); after a restart the map starts empty and fills
    * from disk once per retained dir. The batch's OWN dir (replay) is
    * never cached — it is read fresh by the caller. */
  private def storeSeqSigs(s: SparkSession, storeDir: String, seq: Long,
                           cache: scala.collection.mutable.Map[Long, Seq[String]]): Seq[String] =
    cache.getOrElseUpdate(seq,
      readSeqSigs(s, new java.io.File(storeDir, s"seq_batch=$seq")))

  /** Driver-side commit writes for the driver path: the rows are
    * already local, so a Spark write would pay ~180 ms of
    * job/committer constants per commit to produce a few KB. Write the
    * staged file with the parquet-hadoop writer instead — zero Spark
    * jobs, standard parquet (same optional int64/binary-UTF8 physical
    * types and snappy codec as the engine's own writes), so every
    * reader (schema-pinned [[readSeqTable]], `spark.read.parquet` in
    * gates/specs, [[footerRowCount]]) is unchanged, and
    * distributed-fallback batches and driver batches can share one
    * table dir. Same staged-dot-dir + atomic-rename contract as
    * [[commitSeqDir]]. */
  private val admittedMsgType = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      "message spark_schema { optional int64 id; optional binary simhash (UTF8); }")
  private val storeMsgType = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      "message spark_schema { optional binary simhash (UTF8); }")

  private def commitSeqDirLocal(dir: String, seq: Long,
                                schema: org.apache.parquet.schema.MessageType,
                                groups: Iterator[org.apache.parquet.example.data.Group]): Unit = {
    val base = new java.io.File(dir)
    base.mkdirs()
    val stage = new java.io.File(base, s".stage_$seq")
    if (stage.exists()) graft.Fs.deleteRecursively(stage) // crash-leaked stage
    stage.mkdirs()
    val out = new java.io.File(stage,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(out.getAbsolutePath), conf))
      .withType(schema)
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try groups.foreach(writer.write) finally writer.close()
    val live = new java.io.File(base, s"seq_batch=$seq")
    if (live.exists()) graft.Fs.deleteRecursively(live)
    if (!stage.renameTo(live))
      throw new IllegalStateException(s"swap failed: $stage -> $live")
  }

  private def commitAdmittedLocal(dir: String, seq: Long,
                                  rows: Seq[(Long, String)]): Unit =
    commitSeqDirLocal(dir, seq, admittedMsgType, rows.iterator.map { case (id, sig) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(admittedMsgType)
      g.append("id", id); g.append("simhash", sig); g
    })

  private def commitStoreLocal(dir: String, seq: Long, sigs: Seq[String]): Unit =
    commitSeqDirLocal(dir, seq, storeMsgType, sigs.iterator.map { sig =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(storeMsgType)
      g.append("simhash", sig); g
    })

  /** 64-bit batch core: near-dup admission of one batch against a
    * 64-bit signature MATCH SET (any frame with a `simhash` column —
    * the runner passes the capacity-trimmed window). Within-batch
    * clusters (64-bit banded pairs → connected components) keep their
    * min doc id; survivors matching any match-set signature within
    * `maxDist` are dropped. `capacity` sizes the store-match band width
    * (see [[graft.dedup.Dedup.simhash64StoreMatches]]). Returns the
    * admitted (id, simhash) rows. This is the DISTRIBUTED form — the
    * spec surface and the 100 TB path; the runners route
    * micro-batch-sized inputs through [[admitLocal]] instead (same
    * decisions, spec-pinned). */
  def admitBatch64(batch: DataFrame, storeSigs: DataFrame, maxDist: Int,
                   capacity: Long): DataFrame = {
    val s = batch.sparkSession
    val sigs = Dedup.simhash64(batch, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signature-contracted clustering with the driver union-find fast
    // path (Dedup.simhash64Clusters): the distributed-CC form here cost
    // ~12 driver jobs of scheduling constants PER MICRO-BATCH for
    // micro-batch-sized cluster graphs (measured: the 2-batch gate
    // lifecycle read 8.5 s at sf0.1, ~4x its data cost)
    val dropped = tagged(s, "nd64:cluster") {
      Dedup.simhash64Clusters(sigs, maxDist)
    }.filter(col("id") =!= col("cluster_id")).select(col("id"))
    val survivors = sigs.join(dropped, Seq("id"), "left_anti")
    val matched = Dedup.simhash64StoreMatches(survivors,
      storeSigs.select(col("simhash")), maxDist, capacity)
    // materialize the admitted set before handing it back (read by the
    // admitted-table union AND the store union), then drop the sigs
    // cache — an un-unpersisted frame would accumulate in the
    // CacheManager for the lifetime of the stream
    val out = survivors.join(matched, Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tagged(s, "nd64:admit-materialize") { out.count() }
    sigs.unpersist(false)
    out
  }

  /** Tag the Spark jobs `body` triggers with a phase label: the tag is
    * the jobs' `spark.job.description`, so it names them in
    * [[graft.obs.Trace]]'s job timeline. Provenance only, no semantics. */
  private def tagged[A](s: SparkSession, tag: String)(body: => A): A = {
    s.sparkContext.setJobDescription(tag)
    try body finally s.sparkContext.setJobDescription(null)
  }

  /** The bounded store's MATCH WINDOW: the newest batches of `older`
    * (store rows from batches strictly before the one being processed)
    * until their cumulative signature count first reaches `capacity` —
    * batch-granular FIFO, THE bound that makes a 64-bit store
    * deployable. The 16-bit store is safe unbounded because its
    * signature SPACE is 2^16; a 64-bit store grows with every distinct
    * document ever admitted, which at ingest scale is the corpus itself.
    * The trim needs one per-RETAINED-batch count (model-sized) and is a
    * scan-linear filter on seq_batch: no sort, no global top-K. This
    * DataFrame form is the spec surface; the runner itself feeds
    * [[trimCutoff]] from parquet FOOTER counts of the per-batch store
    * dirs — same rule, zero Spark jobs — and, because eviction is
    * whole-batch-granular and the store IS one directory per batch,
    * evicts by DELETING whole directories, O(1) metadata. */
  private[streaming] def trimToCapacity(older: DataFrame, capacity: Long): DataFrame = {
    val counts = older.groupBy(col("seq_batch"))
      .agg(count(lit(1)).as("n"))
      .collect() // one row per RETAINED batch — bounded by capacity/min-batch
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
    older.filter(col("seq_batch") >= trimCutoff(counts, capacity))
  }

  /** The trim RULE itself, driver-side and pure: given (seq_batch, rows)
    * per older batch, the smallest seq retained — newest batches first
    * until their cumulative count first reaches `capacity`, whole
    * batches only. Shared by the DataFrame form above (spec surface) and
    * the runner's footer-count path, so the two compute ONE rule. Empty
    * input → MaxValue → empty window. */
  private[streaming] def trimCutoff(counts: Seq[(Long, Long)],
                                    capacity: Long): Long = {
    var cum = 0L
    var cutoff = Long.MaxValue
    val it = counts.sortBy(-_._1).iterator
    while (it.hasNext && cum < capacity) {
      val (seq, n) = it.next()
      cutoff = seq
      cum += n
    }
    cutoff
  }

  /** Drain the landing zone once through the BOUNDED 64-bit admission
    * lifecycle: same landing/admitted/store/checkpoint contract as
    * [[runNearDupStreamOnce]], with the production signature width
    * (X229) and a store bounded by `capacity` (schema: simhash,
    * seq_batch) — the r13 forward-plan design note, now code.
    *
    * POLICY — sliding-window FIFO admission, seq_batch = the
    * checkpoint's own batchId:
    *   - Batch N is matched against WINDOW_N = trim(rows with seq < N)
    *     — the newest older batches covering ≥ `capacity` signatures —
    *     plus any rows already carrying seq = N (empty on a first run;
    *     exactly the batch's own admissions on a replay).
    *   - Commit (PER-BATCH-FILE): the `seq_batch=N` store dir := rows
    *     already at seq N ∪ (newly admitted at seq N) — one O(batch)
    *     staged-rename — then every store dir with seq outside
    *     WINDOW_N ∪ {N} is DELETED. Storage therefore still holds
    *     exactly rows(seq = N) ∪ WINDOW_N ∪ (new at N), and eviction
    *     LAGS one batch as before: a batch leaves the match window once
    *     capacity is covered without it, and leaves storage (by whole-
    *     directory delete) on the next commit.
    *
    * Properties:
    *   - SIZE BOUND: < capacity + 2·(largest batch's admissions) rows —
    *     independent of documents ever streamed.
    *   - COVERAGE: every document is deduped against its own batch plus
    *     at least the last `capacity` admitted signatures (all of them,
    *     while the total is ≤ capacity). A near-dup of an EVICTED
    *     signature is re-admitted by design — the documented trade for
    *     boundedness.
    *   - REPLAY (crash between the store swap and the checkpoint
    *     commit): the replayed batch recomputes WINDOW from rows with
    *     seq < N only — its own committed rows (seq = N) cannot shrink
    *     the window's capacity coverage — so trim(trim(S)) = trim(S)
    *     reproduces the original window exactly; every originally
    *     dropped doc re-drops against the same window sig, and every
    *     originally admitted doc now matches its own stored signature
    *     at distance 0. Zero admissions with the batch's dirs already
    *     committed → the commit is SKIPPED outright (nothing to add)
    *     and only the idempotent eviction deletes re-run; a crash
    *     BEFORE the store commit replays to the identical admitted
    *     rows, which the per-batch commit unions with the batch's own
    *     dir and dedups by id — O(batch), and the only dedup left
    *     anywhere in the lifecycle. Evicted dirs a crashed attempt
    *     already deleted cannot change the replayed window: they are
    *     the OLDEST seqs, below any retained cutoff. A naive "trim
    *     after union" policy FAILS
    *     this: the new batch's own count can push a window batch out in
    *     the same commit that matched against it, and the replay
    *     silently admits what the original run dropped.
    *   - DETERMINISM: eviction depends only on per-batch admission
    *     counts and batchIds (no clock, no touch-on-hit LRU whose state
    *     would depend on query pattern).
    */
  def runNearDup64StreamOnce(spark: SparkSession, landingDir: String,
                             admittedDir: String, storeDir: String,
                             checkpoint: String, maxDist: Int,
                             capacity: Long): Unit = {
    require(capacity >= 1, s"capacity=$capacity must be >= 1")
    // AQE OFF for the lifecycle: the engine disables AQE inside the
    // streaming plan itself, but foreachBatch body actions are plain
    // batch queries under the SESSION conf — and on micro-batch-sized
    // frames every adaptive exchange re-plan spawns driver sub-jobs
    // whose scheduling constants dwarf the data (measured on the gate
    // harness: 69 jobs / 7.6 s with AQE, most of it 150-290 ms 1-task
    // stages; the withModelLoopConf lesson applied to streaming). A
    // deployment with corpus-sized batches would re-enable it per batch.
    EventStream.withConf(spark, EventStream.lifecycleConfs(spark) ++ Seq(
      "spark.sql.adaptive.enabled" -> "false"): _*) {
      val raw = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(landingDir)
      val storeSchema = StructType(Seq(StructField("simhash", StringType),
        StructField("seq_batch", LongType)))
      // per-invocation store-sig cache for the driver path (see
      // [[storeSeqSigs]]) — dead with the drain, so no cross-run state
      val sigCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = raw.writeStream
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          val s = b.sparkSession
          // WINDOW selection from parquet FOOTERS: the per-older-batch
          // row counts the trim rule needs are file metadata — zero
          // Spark jobs — and the window read below is a
          // partition-PRUNED scan of exactly the retained seq dirs
          val olderCounts = committedSeqs(storeDir).filter(_ < batchId)
            .map(seq => (seq,
              footerRowCount(new java.io.File(storeDir, s"seq_batch=$seq"))))
          val cutoff = trimCutoff(olderCounts, capacity)
          val retained = olderCounts.filter(_._1 >= cutoff)
          val ownStoreDir = new java.io.File(storeDir, s"seq_batch=$batchId")
          val ownStoreRows =
            if (ownStoreDir.isDirectory) footerRowCount(ownStoreDir) else 0L
          // DRIVER CUTOVER (r19): gate on the footer-counted window size
          // (zero jobs) first, then on the bounded batch-sig collect —
          // both under [[MaxCollectSigsConf]] → the whole admission runs
          // driver-side; either over → the distributed path unchanged.
          val maxSigs = maxCollectSigs(s)
          val localBatch: Option[Array[(Long, String)]] =
            if (maxSigs <= 0 || retained.map(_._2).sum + ownStoreRows > maxSigs) None
            else collectBatchSigs(Dedup.simhash64(b.toDF(), "doc_id", "text"),
              maxSigs, "nd64:sigs-collect")
          localBatch match {
            case Some(batchSigs) =>
              val windowSigs = retained.map(_._1)
                .flatMap(seq => storeSeqSigs(s, storeDir, seq, sigCache))
              // own-seq rows exist only on a REPLAY (crash after the
              // store commit): matching against them sends every
              // originally admitted doc to a distance-0 drop,
              // reproducing the original decision exactly
              val ownSigs: Seq[String] =
                if (ownStoreRows > 0) readSeqSigs(s, ownStoreDir) else Seq.empty
              val admitted = admitLocal(batchSigs.toSeq, windowSigs ++ ownSigs, maxDist)
              // normal path (no own dir yet): commit the admitted rows
              // directly. REPLAY path (own dir exists): a replay without
              // its store commit re-derives the identical admitted rows
              // — union with the batch's own dir, id-keyed (O(batch));
              // a full replay re-admits nothing and skips the commits.
              val ownAdmittedDir = new java.io.File(admittedDir, s"seq_batch=$batchId")
              val ownAdmitted: Option[Seq[(Long, String)]] =
                if (!ownAdmittedDir.isDirectory) Some(admitted)
                else if (admitted.isEmpty) None
                else {
                  val prior = s.read.parquet(ownAdmittedDir.getAbsolutePath)
                    .select(col("id"), col("simhash")).collect()
                    .map(r => (r.getLong(0), r.getString(1)))
                  val seen = scala.collection.mutable.HashSet.empty[Long]
                  Some((prior ++ admitted).filter(r => seen.add(r._1)))
                }
              ownAdmitted.foreach { adm =>
                commitAdmittedLocal(admittedDir, batchId, adm)
                val storeRows = ownSigs ++ admitted.map(_._2)
                commitStoreLocal(storeDir, batchId, storeRows)
                sigCache(batchId) = storeRows
              }
              committedSeqs(storeDir)
                .filter(seq => seq < cutoff && seq != batchId)
                .foreach { seq =>
                  graft.Fs.deleteRecursively(
                    new java.io.File(storeDir, s"seq_batch=$seq"))
                  sigCache.remove(seq)
                }
            case None =>
              val store = readSeqTable(s, storeDir, storeSchema)
              val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
              val window = store
                .filter(col("seq_batch") < batchId && col("seq_batch") >= cutoff)
                .persist(lvl)
              // own-seq rows exist only on a REPLAY (crash after the store
              // commit): matching against them sends every originally
              // admitted doc to a distance-0 drop, reproducing the original
              // decision exactly
              val ownSeq = store.filter(col("seq_batch") === batchId).persist(lvl)
              val matchSet = window.select(col("simhash"))
                .unionByName(ownSeq.select(col("simhash")))
              // admitBatch64 hands back an already-persisted, materialized frame
              val admitted = admitBatch64(b.toDF(), matchSet, maxDist, capacity)
              try {
                // commit-path case analysis: see the driver branch above
                val ownAdmittedDir = new java.io.File(admittedDir, s"seq_batch=$batchId")
                val ownAdmitted =
                  if (!ownAdmittedDir.isDirectory) Some(admitted)
                  else if (admitted.isEmpty) None
                  else Some(s.read.parquet(ownAdmittedDir.getAbsolutePath)
                    .unionByName(admitted).dropDuplicates("id"))
                ownAdmitted.foreach { adm =>
                  tagged(s, "nd64:commit-admitted") {
                    commitSeqDir(adm, admittedDir, batchId)
                  }
                  tagged(s, "nd64:commit-store") {
                    commitSeqDir(
                      ownSeq.select(col("simhash"))
                        .unionByName(admitted.select(col("simhash"))),
                      storeDir, batchId)
                  }
                }
                // eviction = whole-directory deletes, LAGGING one batch as
                // before: storage keeps window_N ∪ {N}; batches that fell
                // out of the window leave disk here (idempotent on replay)
                committedSeqs(storeDir)
                  .filter(seq => seq < cutoff && seq != batchId)
                  .foreach { seq =>
                    graft.Fs.deleteRecursively(
                      new java.io.File(storeDir, s"seq_batch=$seq"))
                    sigCache.remove(seq)
                  }
              } finally {
                admitted.unpersist(); window.unpersist(); ownSeq.unpersist()
              }
          }
        }
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** GATE HARNESS for [[runNearDup64StreamOnce]]: stage the documents
    * table as TWO landing files (doc_id parity, strictly increasing
    * mtimes so the file source's oldest-first order makes batch 0 = even
    * ids, batch 1 = odd ids — deterministic), drain the bounded
    * lifecycle against a FRESH admitted/store/checkpoint root, and hand
    * back the admitted (id, simhash) table as a local batch frame (the
    * memory-sink-style gate fixture collect every streaming gate row
    * uses; the temp root is deleted after). At gate capacity the trim
    * window covers every admitted signature — the window=everything
    * regime, the same clamp posture as bitsFor's gate floor — so the
    * DuckDB oracle replays plain sequential admission; the EVICTION
    * path is pinned by NearDup64StreamSpec. */
  def runDocNearDup64GateOnce(spark: SparkSession, docsPath: String,
                              maxDist: Int, capacity: Long): DataFrame =
    withStagedParityRun(spark, docsPath, nBatches = 2) { (landing, root) =>
      runNearDup64StreamOnce(spark, landing.getAbsolutePath,
        new java.io.File(root, "admitted").getAbsolutePath,
        new java.io.File(root, "store").getAbsolutePath,
        new java.io.File(root, "ckpt").getAbsolutePath, maxDist, capacity)
    }

  /** EVICTION gate harness (the r14-verdict ask): same staged lifecycle
    * as [[runDocNearDup64GateOnce]] but THREE parity batches
    * (doc_id % 3) at capacity = max(1, n_docs/4) — BELOW one batch's
    * admissions at every test SF (measured: |adm1| = 165 of 500 docs at
    * sf0.01, 1570 of 5000 at sf0.1, vs capacity 125/1250), so batch 2's
    * match window is trimmed to batch 1 and FIFO eviction itself runs
    * under the DuckDB hash gate, not only under specs (n/3 misses by
    * 1-2 admissions: the near-dup density drops |adm1| just under n/3). The oracle does
    * NOT assume which batches survive the trim: it replays the trim
    * RULE (newest older batches until their cumulative admission count
    * first reaches capacity), i.e. batch 2 matches against batch-1
    * admissions plus batch-0 admissions ONLY IF |adm1| < capacity — the
    * same conditional the engine's `trimToCapacity` evaluates. At any
    * real SF |adm1| ≥ capacity, so batch 0 is evicted from the window
    * and its near-dups in batch 2 are RE-ADMITTED — the documented
    * boundedness trade, now hash-pinned (NearDup64StreamSpec asserts
    * re-admission actually fires at the gate configuration). */
  def runDocNearDup64EvictGateOnce(spark: SparkSession, docsPath: String,
                                   maxDist: Int): DataFrame = {
    val nDocs = spark.read.parquet(docsPath).count()
    val capacity = math.max(1L, nDocs / 4)
    withStagedParityRun(spark, docsPath, nBatches = 3) { (landing, root) =>
      runNearDup64StreamOnce(spark, landing.getAbsolutePath,
        new java.io.File(root, "admitted").getAbsolutePath,
        new java.io.File(root, "store").getAbsolutePath,
        new java.io.File(root, "ckpt").getAbsolutePath, maxDist, capacity)
    }
  }

  /** GATE HARNESS for [[runNearDupStreamOnce]] — the 16-bit UNBOUNDED
    * lifecycle (the store is bounded by the 2^16 signature SPACE, not by
    * an admission capacity, so there is no trim and no eviction): stage
    * the documents table as TWO parity landing files (doc_id % 2,
    * strictly increasing mtimes — the shared [[stageParityLanding]]
    * contract), drain the lifecycle against a fresh
    * admitted/store/checkpoint root, and hand back the admitted (id,
    * simhash) table as a local batch frame. The DuckDB oracle replays
    * plain sequential admission at 16-bit width (within-batch exact
    * Hamming≤d CC keeps min id; batch-1 survivors drop against ALL
    * batch-0 admissions — window=everything ALWAYS, the width's
    * semantic, not a gate clamp). Closes the r15 verdict's "last
    * spec-only streaming lifecycle" item. */
  def runDocNearDup16GateOnce(spark: SparkSession, docsPath: String,
                              maxDist: Int): DataFrame =
    withStagedParityRun(spark, docsPath, nBatches = 2) { (landing, root) =>
      runNearDupStreamOnce(spark, landing.getAbsolutePath,
        new java.io.File(root, "admitted").getAbsolutePath,
        new java.io.File(root, "store").getAbsolutePath,
        new java.io.File(root, "ckpt").getAbsolutePath, maxDist)
    }

  /** Stage `docsPath` as `nBatches` parity landing files under
    * `root/landing` (batch b = doc_id % nBatches, strictly increasing
    * mtimes — the file source's oldest-first order then makes batch
    * order = parity order). One pass over documents writes all parity
    * parts (partitionBy drops the partition column, leaving exactly
    * docSchema); an mtime-set failure ABORTS (a silently unset mtime
    * would invert batch order — the determinism contract the oracle's
    * parity split relies on), and a parity class with no documents
    * simply lands no file. Every harness that drains a near-dup stream
    * stages its batches through here, so all of them see identical
    * batches.
    *
    * CAVEAT — the `coalesce(1)` below is a HARNESS-ONLY single-task
    * write: the gate contract needs exactly ONE parquet file per parity
    * class (the file source's one-file-per-trigger batch unit), and gate
    * corpora are a few thousand rows. Do NOT lift this shape into a data
    * path — on a real corpus a 1-task write serializes the whole table
    * through one executor; a deployment stages per-batch landing files
    * with a normal partitioned write (one DIRECTORY per batch) and feeds
    * the source directory-at-a-time instead. */
  private[graft] def stageParityLanding(spark: SparkSession, docsPath: String,
                                        root: java.io.File, nBatches: Int): java.io.File = {
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val docs = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val t0 = 1700000000000L // any fixed base; only the ORDER matters
    val stage = new java.io.File(root, "stage")
    docs.withColumn("b", col("doc_id") % nBatches)
      .coalesce(1).write.mode("overwrite").partitionBy("b")
      .parquet(stage.getAbsolutePath)
    (0 until nBatches).foreach { b =>
      val dir = new java.io.File(stage, s"b=$b")
      if (dir.isDirectory) {
        val part = dir.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val target = new java.io.File(landing, s"b$b.parquet")
        java.nio.file.Files.move(part.toPath, target.toPath)
        require(target.setLastModified(t0 + b * 60000L),
          s"setLastModified failed on $target; batch order would be " +
            "nondeterministic — refusing to run the gate")
      }
    }
    landing
  }

  /** Session-lifetime memo of staged parity landings, keyed by
    * (docsPath, nBatches) — the r16 PLANS "shared gate-session" lever:
    * every gate RUN needs a fresh admitted/store/checkpoint root, but
    * the staged LANDING (docs read + 1-task parity write) is a pure
    * function of the input table, and Bench re-pays it on every pass of
    * every near-dup row (~0.3 s × ~12 stagings per bench run at sf0.1).
    * The memo stages once per key into a JVM-temp template dir and each
    * run hardlink-or-copies the few landing files into its own root,
    * re-asserting the parity mtimes. Assumes the docs table is immutable
    * within the session (the same posture as [[graft.Caches.memo]]'s
    * plan-keyed counts); templates are deleted on JVM exit. */
  private val stagedTemplates =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.io.File]()

  private def stagedTemplate(spark: SparkSession, docsPath: String,
                             nBatches: Int): java.io.File =
    stagedTemplates.computeIfAbsent((docsPath, nBatches), { _ =>
      val tmplRoot = graft.Fs.ephemeralDir("graft_nd_staged_tmpl_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(tmplRoot)))
      stageParityLanding(spark, docsPath, tmplRoot, nBatches)
    })

  /** Materialize the memoized template into `root/landing` for one run:
    * hardlink where the filesystem allows (same temp volume — O(1) per
    * file), copy otherwise, and re-assert each file's staged mtime (the
    * batch-order contract; link/copy preserves source mtimes on Linux
    * but the contract is load-bearing, so it is SET, not assumed). */
  private def landingFromTemplate(template: java.io.File,
                                  root: java.io.File): java.io.File = {
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    template.listFiles().foreach { f =>
      val tgt = new java.io.File(landing, f.getName)
      try java.nio.file.Files.createLink(tgt.toPath, f.toPath)
      catch { case _: Exception =>
        java.nio.file.Files.copy(f.toPath, tgt.toPath,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
      // ALIASING CAVEAT: on the hardlink path tgt and f share one inode,
      // so this setLastModified writes through to the memoized template
      // too. Today it re-asserts the template's OWN value (benign, and
      // the assert is load-bearing — see the require) — but if a future
      // change ever needs per-run mtimes diverging from the template's,
      // it must switch the link above to a copy or it would silently
      // corrupt batch order for every later run keyed to the template.
      require(tgt.setLastModified(f.lastModified()),
        s"setLastModified failed on $tgt; batch order would be " +
          "nondeterministic — refusing to run the gate")
    }
    landing
  }

  /** Stage the parity landing (see [[stageParityLanding]], memoized per
    * (docsPath, nBatches) via [[stagedTemplate]]) under a temp root, run
    * `body(landing, root)` — the lifecycle under test — and hand back
    * the admitted (id, simhash) table as a local batch frame (the
    * memory-sink-style gate fixture collect every streaming gate row
    * uses; the temp root is deleted after). */
  private def withStagedParityRun(spark: SparkSession, docsPath: String,
                                  nBatches: Int)
                                 (body: (java.io.File, java.io.File) => Unit): DataFrame = {
    // gate roots (landing + admitted + store + checkpoint) are EPHEMERAL
    // run state — tmpfs when available (Fs.ephemeralDir): the lifecycle's
    // fsync rounds against a disk-backed /tmp were the streaming bucket's
    // dominant regime amplifier (r16 verdict item 3)
    val root = graft.Fs.ephemeralDir("graft_nd64_gate_")
    try {
      val landing = landingFromTemplate(
        stagedTemplate(spark, docsPath, nBatches), root)
      body(landing, root)
      val out = spark.read.parquet(new java.io.File(root, "admitted").getAbsolutePath)
        .select(col("id"), col("simhash"))
      val (rows, schema) = (out.collect(), out.schema)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally graft.Fs.deleteRecursively(root)
  }

  /** Drain the landing zone once (AvailableNow, one file per micro-batch)
    * maintaining `admittedDir` (id, simhash — the clean corpus index) and
    * `storeDir` (distinct admitted signatures). Resumable: the checkpoint
    * skips committed batches on restart. */
  def runNearDupStreamOnce(spark: SparkSession, landingDir: String,
                           admittedDir: String, storeDir: String,
                           checkpoint: String, maxDist: Int): Unit = {
    // Stateless foreachBatch (no watermark state) — boundedLifecycleConfs
    // for uniformity; the no-data-batch skip is vacuous here. AQE OFF in
    // the body, as in [[runNearDup64StreamOnce]]: on micro-batch-sized
    // frames every adaptive exchange re-plan spawns driver sub-jobs
    // whose scheduling constants dwarf the data (the 69→29-job lesson).
    EventStream.withConf(spark, EventStream.lifecycleConfs(spark) ++ Seq(
      "spark.sql.adaptive.enabled" -> "false"): _*) {
      val raw = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(landingDir)
      val storeSchema = StructType(Seq(StructField("simhash", StringType),
        StructField("seq_batch", LongType)))
      // per-invocation store-sig cache for the driver path (see
      // [[storeSeqSigs]]) — dead with the drain, so no cross-run state
      val sigCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = raw.writeStream
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          val s = b.sparkSession
          // the 16-bit match window is EVERYTHING (the signature space
          // bounds the store) — including the batch's own seq dir, which
          // exists only on a replay and sends every originally admitted
          // doc to a distance-0 drop
          val seqs = committedSeqs(storeDir)
          // DRIVER CUTOVER (r19): same gate as the 64-bit runner — the
          // store is 2^16-space-bounded, so at any knob ≥ 65536 the
          // window side always fits and only the batch collect decides
          val maxSigs = maxCollectSigs(s)
          val storeRowsTotal = seqs.map(seq => footerRowCount(
            new java.io.File(storeDir, s"seq_batch=$seq"))).sum
          val localBatch: Option[Array[(Long, String)]] =
            if (maxSigs <= 0 || storeRowsTotal > maxSigs) None
            else collectBatchSigs(Dedup.simhash(b.toDF(), "doc_id", "text"),
              maxSigs, "nd16:sigs-collect")
          localBatch match {
            case Some(batchSigs) =>
              // own-seq rows (replay only) are read fresh, never cached
              val ownStoreSigs: Seq[String] =
                if (seqs.contains(batchId))
                  readSeqSigs(s, new java.io.File(storeDir, s"seq_batch=$batchId"))
                else Seq.empty
              val matchSigs = seqs.filter(_ != batchId)
                .flatMap(seq => storeSeqSigs(s, storeDir, seq, sigCache)) ++ ownStoreSigs
              val admitted = admitLocal(batchSigs.toSeq, matchSigs, maxDist)
              val ownAdmittedDir = new java.io.File(admittedDir, s"seq_batch=$batchId")
              val ownAdmitted: Option[Seq[(Long, String)]] =
                if (!ownAdmittedDir.isDirectory) Some(admitted)
                else if (admitted.isEmpty) None
                else {
                  val prior = s.read.parquet(ownAdmittedDir.getAbsolutePath)
                    .select(col("id"), col("simhash")).collect()
                    .map(r => (r.getLong(0), r.getString(1)))
                  val seen = scala.collection.mutable.HashSet.empty[Long]
                  Some((prior ++ admitted).filter(r => seen.add(r._1)))
                }
              ownAdmitted.foreach { adm =>
                commitAdmittedLocal(admittedDir, batchId, adm)
                // per-batch admitted signatures are globally distinct BY
                // ADMISSION (a stored signature re-arriving is a
                // distance-0 match and never re-admits; within a batch,
                // colliding signatures cluster to one survivor), so the
                // union of the seq dirs needs no distinct — a replay's
                // own-seq rows re-drop the same way
                val storeRows = ownStoreSigs ++ admitted.map(_._2)
                commitStoreLocal(storeDir, batchId, storeRows)
                sigCache(batchId) = storeRows
              }
            case None =>
              val store = readSeqTable(s, storeDir, storeSchema)
              // admitBatch hands back an already-persisted, materialized frame
              val admitted = admitBatch(b.toDF(), store, maxDist)
              try {
                // commit-path case analysis: see the 64-bit runner
                val ownAdmittedDir = new java.io.File(admittedDir, s"seq_batch=$batchId")
                val ownAdmitted =
                  if (!ownAdmittedDir.isDirectory) Some(admitted)
                  else if (admitted.isEmpty) None
                  else Some(s.read.parquet(ownAdmittedDir.getAbsolutePath)
                    .unionByName(admitted).dropDuplicates("id"))
                ownAdmitted.foreach { adm =>
                  commitSeqDir(adm, admittedDir, batchId)
                  commitSeqDir(
                    store.filter(col("seq_batch") === batchId)
                      .select(col("simhash"))
                      .unionByName(admitted.select(col("simhash"))),
                    storeDir, batchId)
                }
              } finally admitted.unpersist()
          }
        }
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}
