package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup

/** STREAMING near-dup deduplication — the continuous-ingest form of the
  * simhash dedup tier: each micro-batch of documents is admitted against
  * a persisted SIGNATURE STORE, near-dups (within-batch or vs anything
  * ever admitted) are dropped, and the store grows by the admitted
  * signatures.
  *
  * Why a per-batch sink and not a stateful operator: the near-dup
  * decision for one document spans its (maxDist+1) chunk buckets, so a
  * flatMapGroupsWithState keyed by bucket cannot decide locally and
  * would need a second stateful combine per doc; the batch formulation
  * reuses the verified cluster/match machinery, keeps the decision
  * deterministic given batch order (the streaming contract: earlier
  * batches win; within a batch, min doc id wins), and its state — the
  * signature store — is BOUNDED BY THE 16-BIT SIGNATURE SPACE (≤ 2^16
  * rows) no matter how many documents ever streamed, so every batch's
  * store check is one broadcast join. Both output tables commit
  * PER-BATCH-FILE: one partition directory per micro-batch, staged and
  * renamed in by `graft.Fs.commit` (crash-safe), so a batch writes
  * O(batch) rows no matter how much was ever admitted, and a replayed
  * batch rewrites only its OWN directory — idempotent on top of the
  * checkpoint's exactly-once file offsets (which also guarantee a doc id
  * arrives in at most one batch, keeping the admitted dirs' union
  * id-deduped without any cross-batch shuffle). When a micro-batch and
  * its match window fit under the driver-collect bound
  * ([[graft.Collect]]), the whole admission runs driver-side
  * ([[admitLocal]], spec-pinned equal to the distributed path).
  */
object NearDupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Pure batch core (also the 16-bit runner's distributed path):
    * near-dup admission of one batch against a signature store.
    * Within-batch clusters keep their min doc id; survivors with any
    * store signature within `maxDist` are dropped. Returns the admitted
    * (id, simhash) rows. */
  def admitBatch(batch: DataFrame, storeSigs: DataFrame, maxDist: Int): DataFrame = {
    val sigs = Dedup.simhash(batch, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // where the analytic 2^16 guard is over the bound, simhashClusters
    // counts the batch's pairs, so batch-sized graphs still take the
    // driver union-find instead of iterated distributed CC
    val dropped = Dedup.simhashClusters(sigs, maxDist)
      .filter(col("id") =!= col("cluster_id")).select(col("id"))
    val survivors = sigs.join(dropped, Seq("id"), "left_anti")
    val matched = Dedup.simhashStoreMatches(survivors, storeSigs, maxDist)
    val out = survivors.join(matched, Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    sigs.unpersist(false)
    out
  }

  /** PER-BATCH FILE COMMITS: both output tables hold one Hive-style
    * partition dir per micro-batch, this one, so a batch commits O(batch)
    * rows instead of rewriting O(total-admitted) parquet, and whole-batch
    * FIFO eviction is a DIRECTORY DELETE. `spark.read.parquet(dir)`
    * partition-discovers `seq_batch` (the store's window filter
    * `seq_batch < N` is a partition-PRUNED listing). Per-batch admitted id
    * sets are disjoint under the file source's exactly-once offsets, and
    * an admitted SIGNATURE never recurs while in the match window
    * (distance 0 ≤ maxDist always matches), so the union of the committed
    * dirs IS the deduped table, with no cross-batch dedup shuffle. */
  private def seqDir(dir: String, seq: Long): Path = new Path(dir, s"seq_batch=$seq")

  /** Commit `df` as the live `<dir>/seq_batch=<seq>` partition dir through
    * [[graft.Fs.commit]]: staged beside the partition dirs, where Spark's
    * file listing never sees it, then renamed in. The write is an ACTION,
    * so `df`, which may read the live dirs, is fully materialized before
    * anything moves. */
  private def commitSeqDir(df: DataFrame, dir: String, seq: Long): Unit = {
    val live = seqDir(dir, seq)
    graft.Fs.commit(graft.Fs.of(df.sparkSession, live), live)(
      stage => df.write.parquet(stage.toString))
  }

  /** The committed batch ids under a per-batch table dir (the
    * `seq_batch=N` partition dirs; a crash-leaked stage never matches).
    * Empty when the dir does not exist — a first run. */
  private def committedSeqs(fs: FileSystem, dir: String): Seq[Long] =
    try fs.listStatus(new Path(dir)).toSeq.collect {
      case f if f.isDirectory && f.getPath.getName.startsWith("seq_batch=") =>
        f.getPath.getName.stripPrefix("seq_batch=").toLong
    } catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Exact row count of one committed batch dir from the parquet FOOTERS
    * — driver-side file metadata, no Spark job: the trim's
    * per-retained-batch count aggregate priced one scheduling-constant
    * job per micro-batch for a model-sized answer the footers already
    * hold. O(files in the dir) opens, each reading only the footer. */
  private def footerRowCount(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, fs.getConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum

  /** Driver-side micro-batch admission — the EXACT semantics of
    * [[admitBatch]]/[[admitBatch64]] on collected rows (width-generic:
    * the band layout derives from the signature string length, and the
    * banded-candidates + exact-Hamming-verify structure is the same
    * pigeonhole argument as the distributed pair generators, so the
    * decision set is identical regardless of band width):
    *   1. within-batch signature-CONTRACTED clustering — nodes = the
    *      distinct signatures, edges = Hamming ≤ maxDist, components by
    *      `Dedup.unionByMin`; every ≥2-doc component keeps its min doc
    *      id (identical-signature docs share a node, so exact dups
    *      cluster with zero edges);
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
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[String]]
    distinctSigs.foreach { s =>
      bands(s).foreach(b =>
        buckets.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += s)
    }
    val edges = buckets.valuesIterator.flatMap { bucket =>
      bucket.indices.iterator.flatMap(i => (i + 1 until bucket.length).iterator
        .filter(j => ham(sigHalves(bucket(i)), sigHalves(bucket(j))) <= maxDist)
        .map(j => (bucket(i), bucket(j))))
    }
    val root = Dedup.unionByMin(edges)
    val droppedIds = mutable.HashSet.empty[Long]
    batch.groupBy { case (_, s) => root.getOrElse(s, s) }.values.foreach { docs =>
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

  /** Signature strings of one committed store batch dir, via Spark (one
    * small scan job — replay/restart only on the cached path below). */
  private def readSeqSigs(s: SparkSession, dir: Path): Seq[String] =
    s.read.parquet(dir.toString)
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
      readSeqSigs(s, seqDir(storeDir, seq)))

  /** A seq dir's columns in each table, as the driver route writes them:
    * nullable, as Spark's parquet writer stores every column. */
  private val admittedSchema = StructType(Seq(
    StructField("id", LongType), StructField("simhash", StringType)))
  private val storeSchema = StructType(Seq(StructField("simhash", StringType)))

  /** [[commitSeqDir]] for rows already on the driver: the same
    * [[graft.Fs.commit]], with the stage written by [[graft.DriverWrite]]
    * on the batch session's Hadoop conf `conf`. Spark's file names,
    * `_SUCCESS` and footer as the distributed route's `df.write`, and no
    * Spark job: a write job's constants cost ~180 ms per commit for a
    * few KB of rows. */
  private def commitSeqDirLocal(s: SparkSession, fs: FileSystem, conf: Configuration,
                                dir: String, seq: Long, schema: StructType,
                                rows: Seq[InternalRow]): Unit =
    graft.Fs.commit(fs, seqDir(dir, seq))(graft.DriverWrite.parquet(s, schema, rows, _, None, conf))

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

  /** Drain the landing zone once (AvailableNow, one file per micro-batch)
    * maintaining `admittedDir` (id, simhash — the clean corpus index) and
    * `storeDir` (distinct admitted 16-bit signatures). Resumable: the
    * checkpoint skips committed batches on restart. The store is bounded
    * by the 2^16 signature space, so every older batch stays in the match
    * window and nothing is evicted. */
  def runNearDupStreamOnce(spark: SparkSession, landingDir: String,
                           admittedDir: String, storeDir: String,
                           checkpoint: String, maxDist: Int): Unit =
    runLifecycle(spark, landingDir, admittedDir, storeDir, checkpoint, maxDist,
      Long.MaxValue, "nd16", Dedup.simhash(_, "doc_id", "text"),
      admitBatch(_, _, maxDist))

  /** Drain the landing zone once through the BOUNDED 64-bit admission
    * lifecycle: same landing/admitted/store/checkpoint contract as
    * [[runNearDupStreamOnce]], with 64-bit signatures and a store bounded
    * by `capacity` (schema: simhash, seq_batch).
    *
    * POLICY — sliding-window FIFO admission, seq_batch = the
    * checkpoint's own batchId:
    *   - Batch N is matched against WINDOW_N = trim(rows with seq < N)
    *     — the newest older batches covering ≥ `capacity` signatures —
    *     plus any rows already carrying seq = N (empty on a first run;
    *     exactly the batch's own admissions on a replay).
    *   - Commit (PER-BATCH-FILE): the `seq_batch=N` store dir := rows
    *     already at seq N ∪ (newly admitted at seq N) — one O(batch)
    *     staged-rename — then every store dir with seq < N outside
    *     WINDOW_N is DELETED. Dirs with seq > N are never touched.
    *     Storage therefore holds rows(seq = N) ∪ WINDOW_N ∪ (new at N),
    *     and eviction LAGS one batch: a batch leaves the match window
    *     once capacity is covered without it, and leaves storage (by
    *     whole-directory delete) on the next commit.
    *
    * Properties:
    *   - SIZE BOUND: < capacity + 2·(largest batch's admissions) rows —
    *     independent of documents ever streamed.
    *   - COVERAGE: every document is deduped against its own batch plus
    *     at least the last `capacity` admitted signatures (all of them,
    *     while the total is ≤ capacity). A near-dup of an EVICTED
    *     signature is re-admitted by design — the documented trade for
    *     boundedness.
    *   - REPLAY (crash between the store commit and the checkpoint
    *     commit): the replayed batch recomputes WINDOW from rows with
    *     seq < N only — its own committed rows (seq = N) cannot shrink
    *     the window's capacity coverage — so trim(trim(S)) = trim(S)
    *     reproduces the original window exactly; every originally
    *     dropped doc re-drops against the same window sig, and every
    *     originally admitted doc now matches its own stored signature
    *     at distance 0. Zero admissions with the batch's dirs already
    *     committed → the commit is SKIPPED outright and the eviction
    *     re-deletes only what the original run deleted, so no file
    *     changes. A crash BEFORE the store commit replays to the
    *     identical admitted rows, which the per-batch commit unions with
    *     the batch's own dir and dedups by id — O(batch), and the only
    *     dedup left anywhere in the lifecycle. Evicted dirs a crashed
    *     attempt already deleted cannot change the replayed window: they
    *     are the OLDEST seqs, below any retained cutoff. A replay of an
    *     older batch after later batches ran (a lost checkpoint) sees
    *     its window minus the dirs those later batches evicted, and is
    *     exact while none of them was evicted. A naive "trim after
    *     union" policy FAILS the crash replay: the new batch's own count
    *     can push a window batch out in the same commit that matched
    *     against it, and the replay silently admits what the original
    *     run dropped.
    *   - DETERMINISM: eviction depends only on per-batch admission
    *     counts and batchIds (no clock, no touch-on-hit LRU whose state
    *     would depend on query pattern).
    */
  def runNearDup64StreamOnce(spark: SparkSession, landingDir: String,
                             admittedDir: String, storeDir: String,
                             checkpoint: String, maxDist: Int,
                             capacity: Long): Unit =
    runLifecycle(spark, landingDir, admittedDir, storeDir, checkpoint, maxDist,
      capacity, "nd64", Dedup.simhash64(_, "doc_id", "text"),
      admitBatch64(_, _, maxDist, capacity))

  /** The one near-dup streaming lifecycle behind both widths: `sign` is
    * the width's signer, `admit` its distributed admission (batch docs,
    * match set) → persisted admitted rows, `tag` the job-label prefix.
    * The policy is the one documented on [[runNearDup64StreamOnce]]; a
    * `capacity` of Long.MaxValue keeps every older batch in the window,
    * so nothing is ever evicted. */
  private def runLifecycle(spark: SparkSession, landingDir: String,
                           admittedDir: String, storeDir: String,
                           checkpoint: String, maxDist: Int, capacity: Long,
                           tag: String, sign: DataFrame => DataFrame,
                           admit: (DataFrame, DataFrame) => DataFrame): Unit = {
    require(capacity >= 1, s"capacity=$capacity must be >= 1")
    // AQE OFF for the lifecycle: the engine disables AQE inside the
    // streaming plan itself, but the per-batch sink's actions are plain
    // batch queries under the SESSION conf — and on micro-batch-sized
    // frames every adaptive exchange re-plan spawns driver sub-jobs
    // whose scheduling constants dwarf the data (measured on the gate
    // harness: 69 jobs / 7.6 s with AQE, most of it 150-290 ms 1-task
    // stages). A deployment with corpus-sized batches would re-enable it
    // per batch.
    graft.Sessions.withConf(spark, EventStream.boundedLifecycleConfs :+
      ("spark.sql.adaptive.enabled" -> "false"): _*) {
      val raw = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(landingDir)
      // the store as the distributed route reads it, its partition column
      // pinned (INFERENCE would type `seq_batch` as int)
      val storeTable = storeSchema.add("seq_batch", LongType)
      // per-invocation store-sig cache for the driver path (see
      // [[storeSeqSigs]]) — dead with the drain, so no cross-run state
      val sigCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = raw.writeStream
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          val s = b.sparkSession
          val storeFs = graft.Fs.of(s, new Path(storeDir))
          val admittedFs = graft.Fs.of(s, new Path(admittedDir))
          // WINDOW selection from parquet FOOTERS: the per-older-batch
          // row counts the trim rule needs are file metadata — zero
          // Spark jobs — and the window read below is a
          // partition-PRUNED scan of exactly the retained seq dirs
          val storeSeqs = committedSeqs(storeFs, storeDir)
          val olderCounts = storeSeqs.filter(_ < batchId)
            .map(seq => (seq, footerRowCount(storeFs, seqDir(storeDir, seq))))
          val cutoff = trimCutoff(olderCounts, capacity)
          val retained = olderCounts.filter(_._1 >= cutoff)
          val ownStoreDir = seqDir(storeDir, batchId)
          val ownStoreRows =
            if (storeSeqs.contains(batchId)) footerRowCount(storeFs, ownStoreDir) else 0L
          // REPLAY cases: no own admitted dir → first run, commit the
          // admitted rows as they are; own dir present and nothing
          // re-admitted → both commits landed, skip them; own dir present
          // with re-admissions → crash between the two commits, union
          // with the own dir, first row per id wins (O(batch))
          val ownAdmittedDir = seqDir(admittedDir, batchId)
          val replay = admittedFs.exists(ownAdmittedDir)
          // DRIVER CUTOVER: gate on the footer-counted window size (zero
          // jobs) first, then on the bounded batch-sig collect (the one
          // Spark job of a driver-path batch) — both under the
          // driver-collect bound → the whole admission runs driver-side
          // ([[admitLocal]], which collapses the ~7 jobs of per-plan
          // scheduling constants a distributed admission pays); either
          // over → the distributed path, the 100 TB path.
          val maxSigs = graft.Collect.maxRows(graft.Collect.SigBytes)
          val localBatch: Option[Array[(Long, String)]] =
            if (retained.map(_._2).sum + ownStoreRows > maxSigs) None
            else tagged(s, s"$tag:sigs-collect") {
              graft.Collect.head(sign(b.toDF()), maxSigs)
            }.map(_.map(r => (r.getLong(0), r.getString(1))))
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
              if (!replay || admitted.nonEmpty) {
                val adm =
                  if (!replay) admitted
                  else {
                    val prior = s.read.parquet(ownAdmittedDir.toString)
                      .select(col("id"), col("simhash")).collect()
                      .map(r => (r.getLong(0), r.getString(1)))
                    val seen = scala.collection.mutable.HashSet.empty[Long]
                    (prior ++ admitted).filter(r => seen.add(r._1)).toSeq
                  }
                val conf = bridge.hadoopConf(s)
                commitSeqDirLocal(s, admittedFs, conf, admittedDir, batchId, admittedSchema,
                  adm.map { case (id, sig) => InternalRow(id, UTF8String.fromString(sig)) })
                // per-batch admitted signatures are globally distinct BY
                // ADMISSION (a stored signature re-arriving is a
                // distance-0 match and never re-admits; within a batch,
                // colliding signatures cluster to one survivor), so the
                // union of the seq dirs needs no distinct
                val storeRows = ownSigs ++ admitted.map(_._2)
                commitSeqDirLocal(s, storeFs, conf, storeDir, batchId, storeSchema,
                  storeRows.map(sig => InternalRow(UTF8String.fromString(sig))))
                sigCache(batchId) = storeRows
              }
            case None =>
              // empty before a first commit
              val store =
                if (storeSeqs.nonEmpty) s.read.schema(storeTable).parquet(storeDir)
                else s.createDataFrame(new java.util.ArrayList[Row](), storeTable)
              val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
              val window = store
                .filter(col("seq_batch") < batchId && col("seq_batch") >= cutoff)
                .persist(lvl)
              // own-seq rows: see the driver branch
              val ownSeq = store.filter(col("seq_batch") === batchId).persist(lvl)
              val matchSet = window.select(col("simhash"))
                .unionByName(ownSeq.select(col("simhash")))
              // `admit` hands back an already-persisted, materialized frame
              val admitted = admit(b.toDF(), matchSet)
              try {
                if (!replay || !admitted.isEmpty) {
                  val adm =
                    if (!replay) admitted
                    else s.read.parquet(ownAdmittedDir.toString)
                      .unionByName(admitted).dropDuplicates("id")
                  tagged(s, s"$tag:commit-admitted") {
                    commitSeqDir(adm, admittedDir, batchId)
                  }
                  tagged(s, s"$tag:commit-store") {
                    commitSeqDir(
                      ownSeq.select(col("simhash"))
                        .unionByName(admitted.select(col("simhash"))),
                      storeDir, batchId)
                  }
                }
              } finally {
                admitted.unpersist(); window.unpersist(); ownSeq.unpersist()
              }
          }
          // eviction = whole-directory deletes of the older batches that
          // fell out of WINDOW_N (idempotent on replay); seqs ≥ N are
          // never candidates, so a replay leaves later batches untouched
          olderCounts.map(_._1).filter(_ < cutoff).foreach { seq =>
            storeFs.delete(seqDir(storeDir, seq), true)
            sigCache.remove(seq)
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
    withStagedParityRun(spark, docsPath, nBatches = 2)(
      runNearDup64StreamOnce(spark, _, _, _, _, maxDist, capacity))

  /** EVICTION gate harness: same staged lifecycle
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
    withStagedParityRun(spark, docsPath, nBatches = 3)(
      runNearDup64StreamOnce(spark, _, _, _, _, maxDist, capacity))
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
    * semantic, not a gate clamp). */
  def runDocNearDup16GateOnce(spark: SparkSession, docsPath: String,
                              maxDist: Int): DataFrame =
    withStagedParityRun(spark, docsPath, nBatches = 2)(
      runNearDupStreamOnce(spark, _, _, _, _, maxDist))

  /** Stage `docsPath` as `nBatches` parity landing files `b<k>.parquet`
    * in `landing` (batch b = doc_id % nBatches, strictly increasing
    * mtimes — the file source's oldest-first order then makes batch
    * order = parity order). One pass over documents writes all parity
    * parts under `landing/_parts` (partitionBy drops the partition
    * column, leaving exactly docSchema), each part is renamed into
    * place on `landing`'s Hadoop filesystem, and `_parts` is deleted; an
    * mtime that does not read back as set ABORTS (a silently unset mtime
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
                                        landing: Path, nBatches: Int): Unit = {
    val fs = graft.Fs.of(spark, landing)
    val parts = new Path(landing, "_parts")
    val t0 = 1700000000000L // any fixed base; only the ORDER matters
    spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
      .withColumn("b", col("doc_id") % nBatches)
      .coalesce(1).write.partitionBy("b").parquet(parts.toString)
    (0 until nBatches).foreach { b =>
      val dir = new Path(parts, s"b=$b")
      if (fs.exists(dir)) {
        val part = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        val target = new Path(landing, s"b$b.parquet")
        val mtime = t0 + b * 60000L
        if (!fs.rename(part, target))
          throw new IllegalStateException(s"rename failed: $part -> $target")
        fs.setTimes(target, mtime, -1)
        require(fs.getFileStatus(target).getModificationTime == mtime,
          s"setTimes failed on $target; batch order would be " +
            "nondeterministic — refusing to run the gate")
      }
    }
    fs.delete(parts, true)
  }

  /** The staged parity landing of `docsPath` as a template: every gate
    * RUN needs a fresh admitted/store/checkpoint root, but the staged
    * LANDING (docs read + 1-task parity write) is a pure function of the
    * input table, and Bench re-pays it on every pass of every near-dup
    * row (~0.3 s × ~12 stagings per bench run at sf0.1). The template is
    * a [[graft.Fs.derived]] copy of the docs files, rebuilt when they
    * change, and sits on the ephemeral volume beside the run roots, so
    * each run hardlinks its few landing files ([[landingFromTemplate]]). */
  private def stagedTemplate(spark: SparkSession, docsPath: String,
                             nBatches: Int): java.io.File =
    new java.io.File(graft.Fs.derived(spark, s"nd_parity_$nBatches", Seq(docsPath))(
      stageParityLanding(spark, docsPath, _, nBatches)).toUri)

  /** Materialize the stored template into `root/landing` for one run:
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
      // so this setLastModified writes through to the stored template
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

  /** Stage the parity landing (see [[stageParityLanding]], kept per
    * docs fingerprint by [[stagedTemplate]]) under a temp root, run
    * `body(landing, admitted, store, checkpoint)` — the lifecycle under
    * test, over dirs under that root — and hand back the admitted (id,
    * simhash) table as a local batch frame (the memory-sink-style gate
    * fixture collect every streaming gate row uses; the temp root is
    * deleted after). */
  private def withStagedParityRun(spark: SparkSession, docsPath: String,
                                  nBatches: Int)
                                 (body: (String, String, String, String) => Unit): DataFrame = {
    // gate roots (landing + admitted + store + checkpoint) are EPHEMERAL
    // run state — tmpfs when available (Fs.ephemeralDir): the lifecycle's
    // fsync rounds against a disk-backed /tmp dominate its run time when
    // the disk is busy
    val root = graft.Fs.ephemeralDir("graft_nd64_gate_")
    try {
      val landing = landingFromTemplate(
        stagedTemplate(spark, docsPath, nBatches), root)
      def dir(name: String): String = new java.io.File(root, name).getAbsolutePath
      body(landing.getAbsolutePath, dir("admitted"), dir("store"), dir("ckpt"))
      val out = spark.read.parquet(dir("admitted")).select(col("id"), col("simhash"))
      val (rows, schema) = (out.collect(), out.schema)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally graft.Fs.deleteRecursively(root)
  }
}
