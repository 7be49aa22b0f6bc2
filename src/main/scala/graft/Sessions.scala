package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults — Verify, Bench, the dev
  * tools and the specs build from here so config can't drift between
  * entry points (a session without nanosAsLong cannot read the
  * TIMESTAMP(NANOS) events table).
  */
object Sessions {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def build(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // the library's SQL functions (dot_fp, shingle_array,
      // sorted_intersect_count) + the sorted-intersect rewrite rule
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver events.parquet carries TIMESTAMP(NANOS): read as epoch-
      // nanos LongType (convert at use sites — EventStream.batchEvents)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // prefer few large reduce tasks for tiny post-shuffle stages
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ...but coalesce toward 8 MB targets, not the 64 MB default: the
      // shuffles this library feeds into reduce stages are COMPRESSED
      // gram/signature streams whose per-byte CPU (collect_list + sort,
      // hash builds, merge walks) dwarfs scan work — at 10× sf0.1 the
      // default target funneled the order-index build onto a single
      // multi-second task. 8 MB keeps tiny sf0.1 stages coalescing
      // exactly as before (they are far below either target) while
      // CPU-heavy stages at scale keep real parallelism.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // the compiled-codegen class cache holds 100 entries by default —
      // far below this library's registry (130+ distinct plan shapes, each
      // several codegen units), so consecutive queries evict each other
      // and every run recompiles its whole-stage code from scratch.
      // Size it to the working set; entries are compiled classes (small).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // let AQE coalesce the output partitioning of CACHED plans (off by
      // default): every Caches.materialize'd model-sized table (piece
      // vocabularies, signature stores, word tables) otherwise freezes at
      // the full shuffle width — 32 near-empty partitions whose ~5 ms/task
      // scheduling cost is paid by EVERY downstream job touching the
      // cache. Measured: a count() on a cached 31-row table cost 0.2 s;
      // the tokenizer train loops (many small actions over cached model
      // tables) were overhead-bound on exactly this. Large cached frames
      // keep their data-sized widths — AQE only merges below the 8 MB
      // advisory target above.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // no per-session artifact class loaders: the library adds no
      // session-scoped jars, and with isolation on, every session (each
      // per-batch clone of WeatherPipeline.runBatch included) runs its
      // tasks under a class loader of its own, so code generated in its
      // tasks is compiled again for every clone
      .config("spark.sql.artifact.isolation.enabled", "false")
      // without libhadoop, the local FS forks a `chmod` per file and dir
      // it creates: 33 processes a warm runDaily day. graft.LocalFs makes
      // it a system call. Hadoop caches the first file: FS of a JVM for
      // every conf, so every FS here comes from the session's conf
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      // SCRATCH placement: spark.local.dir —
      // shuffle files, broadcast blocks, disk-spilled cache — defaults
      // to /tmp, which is DISK-backed on this host, so every shuffle
      // write and spill paid the disk-writeback tax that made degraded
      // windows read 2-10× on unchanged binaries (fsync-bound streaming
      // rows amplified worst). Scratch is by definition reconstructable-
      // from-lineage state with no durability claim, so place it on the fastest ephemeral volume
      // (tmpfs when the host has one — Fs.ephemeralDir). A CLUSTER
      // deployment sets spark.local.dir to its local NVMe array
      // explicitly; SPARK_GRAFT_EPHEMERAL_ROOT overrides here.
      .config("spark.local.dir", scratchDir)
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  /** Scoped conf override: set `kvs` on `spark`, run `body`, restore
    * the previous values (unset where there were none) even on failure.
    *
    * Serialized per session: SQL confs are session-global mutable
    * state, so two scopes interleaving set/restore on the same session
    * could leave a conf wrong for one of them (or permanently, if the
    * loser restores the winner's override as "previous"). Scopes on
    * different sessions still run concurrently, and a scope may nest in
    * another on the same thread. The lock map holds strong refs — fine
    * for this library's long-lived sessions (`build` / the shared spec
    * session). */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T =
    confLocks.computeIfAbsent(spark, _ => new Object).synchronized {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private val confLocks =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  /** ONE scratch root per JVM — lazy (getOrCreate ignores configs on
    * an existing session, so a per-call dir would orphan a tmpfs dir +
    * a shutdown hook on every repeat build()).
    * Spark cleans its blockmgr/spark-* subdirs on clean shutdown; the
    * hook removes the wrapper — both deletes are idempotent, so hook
    * order vs Spark's own doesn't matter. */
  private lazy val scratchDir: String = {
    val d = graft.Fs.ephemeralDir("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.Fs.deleteRecursively(d)))
    d.getAbsolutePath
  }
}
