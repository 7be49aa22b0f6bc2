package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.SparkSpec

/** Runner-level near-dup lifecycle scenarios shared by both signature
  * widths. Each takes the width's runner over (landing, admitted, store,
  * checkpoint) dirs and fixture texts at that runner's maxDist: `a2` is a
  * near-dup of `a`; `c` and `f` are far from each other and from `a`. */
trait NearDupRunnerScenarios extends SparkSpec {
  import spark.implicits._

  type Runner = (String, String, String, String) => Unit

  /** Runs `body` on fresh (landing, admitted, store, checkpoint) dirs,
    * as plain paths or as `file:` URIs, and deletes them afterwards. */
  private def withDirs[A](prefix: String, uri: Boolean = false)(
      body: (String, String, String, String) => A): A =
    withTempDir(prefix) { root =>
      new java.io.File(s"$root/landing").mkdirs()
      val base = if (uri) java.nio.file.Paths.get(root).toUri.toString.stripSuffix("/") else root
      body(s"$base/landing", s"$base/admitted", s"$base/store", s"$base/ckpt")
    }

  private def land(landing: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)

  private def admittedRows(dir: String): Set[(Long, String, Long)] =
    spark.read.parquet(dir).select($"id", $"simhash", $"seq_batch")
      .as[(Long, String, Long)].collect().toSet

  private def storeRows(dir: String): Set[(String, Long)] =
    spark.read.parquet(dir).select($"simhash", $"seq_batch")
      .as[(String, Long)].collect().toSet

  /** The data files of every `seq_batch=N` dir under `dir`, as (seq dir,
    * parquet schema) pairs. Each dir must hold `_SUCCESS`, and each data
    * file Spark's name and Spark's row metadata in its footer: the files
    * `df.write` leaves. */
  private def sparkFiles(dir: String): Set[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).filter(_.isDirectory).toSet.flatMap { (seqDir: FileStatus) =>
      val files = fs.listStatus(seqDir.getPath).toSeq
      assert(files.exists(_.getPath.getName == "_SUCCESS"), seqDir.getPath)
      files.filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_")).map { f =>
        assert(f.getPath.getName.matches(
          "part-[0-9]+-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}-c000\\.snappy\\.parquet"), f.getPath)
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try {
          val meta = reader.getFooter.getFileMetaData
          assert(meta.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"), f.getPath)
          seqDir.getPath.getName -> meta.getSchema.toString
        } finally reader.close()
      }
    }
  }

  /** Per-batch-file layout, then a replay of every crash point. A fresh
    * checkpoint reprocesses the whole landing, sending every batch back
    * through the foreachBatch body against whatever a "crashed attempt"
    * left in the output dirs — the same commit-path cases a lost
    * checkpoint commit produces, without racing the engine's commit-log
    * internals. Each variant must reproduce the tables bit-for-bit, and
    * the replay over fully committed dirs must not rewrite any file. */
  def perBatchCommitReplay(run: Runner, a: String, c: String, f: String): Unit =
    withDirs("neardup-replay") { (landing, admitted, store, ckpt) =>
      def go(): Unit = run(landing, admitted, store, ckpt)
      land(landing, Seq((1L, a), (3L, c)))
      go()
      land(landing, Seq((10L, f), (11L, c))) // 11 = exact dup of 3 → dropped cross-batch
      go()
      val (admitted0, store0) = (admittedRows(admitted), storeRows(store))
      assert(admitted0.map(_._1) == Set(1L, 3L, 10L))
      // LAYOUT: one partition dir per batch, each holding its parquet files
      def files(dir: String): Map[String, Set[String]] =
        new java.io.File(dir).listFiles().filter(_.isDirectory).map { d =>
          d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
        }.toMap
      val (admittedFiles0, storeFiles0) = (files(admitted), files(store))
      assert(admittedFiles0.keySet == Set("seq_batch=0", "seq_batch=1"))
      assert(storeFiles0.keySet == Set("seq_batch=0", "seq_batch=1"))
      def rm(dir: String): Unit = graft.Fs.deleteRecursively(new java.io.File(dir))

      // both commits landed: every batch re-derives zero admissions
      // (distance-0 self matches against its own seq dir), SKIPS the
      // rewrite, and evicts nothing at or after its own seq — every
      // parquet file stays in place
      rm(ckpt); go()
      assert(admittedRows(admitted) == admitted0 && storeRows(store) == store0)
      assert(files(admitted) == admittedFiles0 && files(store) == storeFiles0)
      // crash BETWEEN the admitted and store commits of batch 1: own
      // admitted dir present, own store rows absent — the replay
      // re-derives the identical admitted rows, dedups against the
      // batch's own dir (no doubling), and recommits both dirs
      rm(ckpt); rm(s"$store/seq_batch=1"); go()
      assert(admittedRows(admitted) == admitted0 && storeRows(store) == store0)
      // crash BEFORE any commit of batch 1: plain re-execution
      rm(ckpt); rm(s"$store/seq_batch=1"); rm(s"$admitted/seq_batch=1"); go()
      assert(admittedRows(admitted) == admitted0 && storeRows(store) == store0)
      // crash DURING batch 1's commit writes: each table's stage is left
      // holding a file that is not parquet; the replay clears it, reproduces
      // both tables, and leaves no stage in the layout
      rm(ckpt); rm(s"$store/seq_batch=1"); rm(s"$admitted/seq_batch=1")
      for (dir <- Seq(admitted, store)) {
        val stage = graft.Fs.stageOf(new org.apache.hadoop.fs.Path(s"$dir/seq_batch=1"))
        val junk = new java.io.File(stage.toUri.getPath, "part-00000-junk.snappy.parquet")
        assert(junk.getParentFile.mkdirs())
        java.nio.file.Files.writeString(junk.toPath, "not parquet")
      }
      go()
      assert(admittedRows(admitted) == admitted0 && storeRows(store) == store0)
      assert(files(admitted).keySet == admittedFiles0.keySet)
      assert(files(store).keySet == storeFiles0.keySet)
    }

  /** The same two-batch lifecycle through the driver path and, with the
    * driver-collect bound forced to 0, through the distributed path: both
    * must commit identical admitted and store tables, in the files
    * `df.write` leaves ([[sparkFiles]]) with the same parquet schemas. */
  def overBoundFallback(run: Runner, a: String, a2: String, c: String,
                        f: String): Unit = {
    def lifecycle(uri: Boolean = false) =
      withDirs("neardup-fb", uri) { (landing, admitted, store, ckpt) =>
        land(landing, Seq((1L, a), (2L, a), (3L, c)))
        run(landing, admitted, store, ckpt)
        land(landing, Seq((10L, f), (11L, c), (12L, a2)))
        run(landing, admitted, store, ckpt)
        (admittedRows(admitted), storeRows(store), sparkFiles(admitted), sparkFiles(store))
      }
    val viaLocal = lifecycle()
    assert(lifecycle(uri = true) == viaLocal) // every dir given as a file: URI
    val viaDistributed = graft.Collect.withMaxRows(0L)(lifecycle())
    assert(viaLocal == viaDistributed)
  }
}
