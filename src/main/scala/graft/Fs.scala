package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem helpers shared by the gate harnesses and probes, and the
  * one commit protocol on Hadoop `FileSystem` behind the pipeline's
  * tables and the streaming sinks: stage, then publish by rename. */
object Fs {
  /** Recursive delete. Null-safe: `listFiles()` returns null on an I/O
    * error or a race with another deleter, and the delete proceeds. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
  }

  /** The `FileSystem` of `p` under `spark`'s Hadoop conf. */
  def of(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Where a commit onto `live` stages: `_stage/<name>` beside it. Spark's
    * file listing skips `_`-prefixed names, so a stage, or one a crash
    * left behind, is never read as part of the table dir it sits in. */
  def stageOf(live: Path): Path = new Path(new Path(live.getParent, "_stage"), live.getName)

  /** Write–publish commit of one dir: `write` fills [[stageOf]]`(live)`,
    * which then replaces `live` by one rename. */
  def commit(fs: FileSystem, live: Path)(write: Path => Unit): Unit =
    staged(fs, stageOf(live), write)(publish(fs, _, live))

  /** Write–publish commit of tables under `root`, each a (dir under
    * `root`, partition column): `write` writes each table at its dir under
    * a fresh stage root beside them, [[stageOf]]`(<root>/<uuid>)`. Only if
    * `write` returns are the tables published, in order: a whole dir, or
    * each staged partition dir plus `_SUCCESS`, leaving the other live
    * partitions as they are (as a dynamic partition overwrite does). */
  def commitTables(fs: FileSystem, root: Path, tables: Seq[(String, Option[String])])(
      write: Path => Unit): Unit =
    staged(fs, stageOf(new Path(root, java.util.UUID.randomUUID().toString)), write) { stage =>
      for ((dir, partitionedBy) <- tables) {
        val (from, to) = (new Path(stage, dir), new Path(root, dir))
        partitionedBy match {
          case None => publish(fs, from, to)
          case Some(col) =>
            for (p <- fs.listStatus(from).map(_.getPath)
                 if p.getName.startsWith(s"$col=") || p.getName == "_SUCCESS")
              publish(fs, p, new Path(to, p.getName))
        }
      }
    }

  /** Clears `stage` of what a crashed commit left there, writes and
    * publishes it, and removes it whether those succeed or throw. */
  private def staged(fs: FileSystem, stage: Path, write: Path => Unit)(
      publishAll: Path => Unit): Unit = {
    fs.delete(stage, true)
    try {
      write(stage)
      publishAll(stage)
    } finally {
      fs.delete(stage, true)
      // the last commit out removes the stage root; a concurrent commit's
      // stage keeps it non-empty, and then the delete fails harmlessly
      scala.util.Try(if (fs.listStatus(stage.getParent).isEmpty) fs.delete(stage.getParent, false))
    }
  }

  /** Replaces `live` with the fully written `stage` dir by one rename, so
    * a reader lists either the old dir or the new one, never a
    * half-written one. `live`'s parent is created if missing. The delete
    * and the rename are two steps: a crash between them leaves `stage`
    * complete and `live` absent. Throws if the rename fails. */
  private def publish(fs: FileSystem, stage: Path, live: Path): Unit = {
    fs.delete(live, true)
    fs.mkdirs(live.getParent)
    if (!fs.rename(stage, live))
      throw new IllegalStateException(s"publish failed: $stage -> $live")
  }

  /** Root for EPHEMERAL run state (gate-harness roots, one-shot stream
    * checkpoints): tmpfs (`/dev/shm`) when present and writable, else
    * `java.io.tmpdir`. Rationale: on a host whose /tmp is disk-backed,
    * every temp checkpoint's offset/commit-log fsync and every
    * staged parquet commit pays the disk-writeback tax — the
    * single biggest slowdown of the streaming queries when the disk is
    * busy (measured ×4-10 on unchanged binaries). State
    * that lives exactly as long as one drain and is deleted after has
    * no durability claim to honor; a DEPLOYMENT passes real, durable
    * checkpoint/store paths to the lifecycle functions and never goes
    * through this helper. */
  private lazy val ephemeralRoot: java.io.File = {
    val root = sys.env.get("SPARK_GRAFT_EPHEMERAL_ROOT") match {
      // override for A/B measurement and for hosts whose tmpfs is too
      // small for a run's ephemeral state
      case Some(p) => new java.io.File(p)
      case None =>
        val shm = new java.io.File("/dev/shm")
        // the free-space guard: scratch includes
        // shuffle SPILLS, which exist to relieve memory pressure — a
        // small tmpfs would consume RAM exactly when memory is short
        // and fail writes with ENOSPC. Only take tmpfs when it has
        // generous headroom for this harness's working sets (the sf0.1
        // suites spill MBs; 32 GiB is ~250× the observed peak). The
        // check runs ONCE (lazy): a long session that later fills the
        // volume fails with ENOSPC — the recovery knob is
        // SPARK_GRAFT_EPHEMERAL_ROOT (see the error path below).
        if (shm.isDirectory && shm.canWrite &&
            shm.getUsableSpace >= 32L * 1024 * 1024 * 1024) shm
        else new java.io.File(System.getProperty("java.io.tmpdir"))
    }
    // one line of provenance per JVM: which volume carries
    // the run's ephemeral state decides the degraded-window behavior,
    // so the choice should be readable in any log, not inferred
    System.err.println(s"[graft] ephemeral root: ${root.getAbsolutePath} " +
      s"(free ${root.getUsableSpace >> 30} GiB; " +
      "override: SPARK_GRAFT_EPHEMERAL_ROOT)")
    root
  }

  /** Fresh directory under [[ephemeralRoot]]; caller owns deletion. */
  def ephemeralDir(prefix: String): java.io.File =
    try java.nio.file.Files.createTempDirectory(ephemeralRoot.toPath, prefix).toFile
    catch {
      case e: java.io.IOException =>
        // most likely the chosen volume filled AFTER the one-time
        // headroom check (tmpfs consumes RAM); name the recovery knob
        // instead of dying on a bare ENOSPC
        throw new java.io.IOException(
          s"cannot create ephemeral dir under ${ephemeralRoot.getAbsolutePath} " +
            s"(free ${ephemeralRoot.getUsableSpace >> 20} MiB) — if the volume " +
            "filled mid-session, point SPARK_GRAFT_EPHEMERAL_ROOT at a roomier " +
            "path and restart", e)
    }
}
