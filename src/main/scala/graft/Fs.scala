package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem helpers shared by the gate harnesses, probes, streaming
  * commits and the pipeline's mart publish. */
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

  /** Stage-and-swap commit on any Hadoop `FileSystem`: replace `live`
    * with the fully written `stage` dir by one rename, so a reader lists
    * either the old table or the new one, never a half-written one.
    * `live`'s parent is created if missing. The delete and the rename
    * are two steps: a crash between them leaves `stage` complete and
    * `live` absent. Throws if the rename fails. */
  def publish(fs: FileSystem, stage: Path, live: Path): Unit = {
    fs.delete(live, true)
    fs.mkdirs(live.getParent)
    if (!fs.rename(stage, live))
      throw new IllegalStateException(s"publish failed: $stage -> $live")
  }

  /** [[publish]] of a local `stage` dir onto a local `live` dir. */
  def swap(stage: java.io.File, live: java.io.File): Unit =
    publish(localFs, new Path(stage.getAbsoluteFile.toURI), new Path(live.getAbsoluteFile.toURI))

  private lazy val localFs: FileSystem =
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  /** Root for EPHEMERAL run state (gate-harness roots, one-shot stream
    * checkpoints): tmpfs (`/dev/shm`) when present and writable, else
    * `java.io.tmpdir`. Rationale: on a host whose /tmp is disk-backed,
    * every temp checkpoint's offset/commit-log fsync and every
    * stage-and-swap parquet commit pays the disk-writeback tax — the
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
