package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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

  /** The one store of materialized copies of sources (the registry's CSV,
    * JSON, ORC, partitioned, Z-ordered, compacted, media and text-line
    * copies, and the streaming harnesses' landings): the dir holding what
    * `write` makes from `inputs` (paths or URIs). A copy is served only
    * while its inputs are unchanged: the dir is named by `name`, a hash of
    * the qualified input paths (the key) and a fingerprint of every input
    * file's path, length and modification time, read with one recursive
    * listing per input on every call. So a regenerated source gets a
    * new dir, and `name` must change with anything else `write` depends
    * on. A dir exists only once it is complete: a miss runs `write` into
    * a stage of its own and publishes it by one rename, unless another
    * writer published the same dir first (then that one is kept), and
    * deletes the key's dirs for other fingerprints. Everything lives
    * under `graft_derived` in the ephemeral root; deleting that dir
    * forces a rebuild. */
  def derived(spark: SparkSession, name: String, inputs: Seq[String])(write: Path => Unit): Path = {
    val paths = qualified(spark, inputs)
    val files = paths.flatMap(p => filesUnder(of(spark, p), p))
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
    val key = s"$name.${digest(paths)}"
    val live = new Path(derivedRoot, s"$key.${digest(files)}")
    val fs = of(spark, live)
    if (!fs.exists(live)) {
      staged(fs, stageOf(new Path(derivedRoot, s"${live.getName}.${java.util.UUID.randomUUID()}")), write) {
        // the check and the rename are one step within this JVM; a live
        // dir another JVM published is kept and this stage dropped
        stage => synchronized {
          if (!fs.exists(live) && !fs.rename(stage, live))
            throw new IllegalStateException(s"publish failed: $stage -> $live")
        }
      }
      derivedDirs(fs, n => n.startsWith(s"$key.") && n != live.getName).foreach(fs.delete(_, true))
    }
    live
  }

  /** Deletes every [[derived]] copy of exactly `inputs`, whatever its name. */
  def dropDerived(spark: SparkSession, inputs: Seq[String]): Unit = {
    val fs = of(spark, derivedRoot)
    val tag = s".${digest(qualified(spark, inputs))}."
    derivedDirs(fs, _.contains(tag)).foreach(fs.delete(_, true))
  }

  private lazy val derivedRoot: Path = new Path(new java.io.File(ephemeralRoot, "graft_derived").toURI)

  private def derivedDirs(fs: FileSystem, keep: String => Boolean): Seq[Path] =
    if (!fs.exists(derivedRoot)) Nil
    else fs.listStatus(derivedRoot).map(_.getPath).filter(p => keep(p.getName)).toSeq

  /** `p` if it is a file, else every file under it. A recursive
    * `listStatus`, not `listFiles`: on the local filesystem the located
    * statuses of `listFiles` load each file's permissions, by forking an
    * `ls` per file (3.4 ms a file, against 0.04 ms for a `listStatus`,
    * on a 4-core x86 host with Hadoop 3.4; `LocalFs` spares only writes). */
  private def filesUnder(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(st => if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st))

  private def qualified(spark: SparkSession, inputs: Seq[String]): Seq[Path] =
    inputs.map { in => val p = new Path(in); of(spark, p).makeQualified(p) }

  private def digest(parts: Seq[Any]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

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
