package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {
  import EventStream._
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private val events = Seq(
    Event(1, ts(0), 100, "click", 1.0),
    Event(2, ts(1), 100, "view", 2.0),
    Event(3, ts(5), 100, "click", 3.0),   // same session (gap 5m <= 10m)
    Event(4, ts(30), 100, "click", 4.0),  // new session (gap 25m)
    Event(5, ts(2), 200, "view", 5.0)
  )

  test("windowedCounts aggregates by event-time window under a watermark (batch-mode check)") {
    // unified semantics: the same transform runs as a plain batch query
    val out = windowedCounts(events.toDF(), watermark = "10 minutes", window = "1 hour")
      .orderBy("window_start", "event_type")
      .select($"event_type", $"n_events", $"value_cents")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("click", 3L, 800L), ("view", 2L, 700L)))
  }

  test("windowedCounts emits finalized windows incrementally from a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = windowedCounts(mem.toDF(), watermark = "1 minute", window = "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append")
      .start()
    // deterministic staging: each addData+processAllAvailable is one
    // micro-batch; append-mode results for a window emit in the batch
    // AFTER the watermark (updated at batch end) passes the window end
    mem.addData(events: _*)
    q.processAllAvailable()
    mem.addData(Event(99, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "click", 0.0))
    q.processAllAvailable()
    mem.addData(Event(98, Timestamp.valueOf("2024-01-01 12:00:01"), 1, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc")
      .select($"event_type", $"n_events", $"value_cents")
      .orderBy($"window_start", $"event_type")
      .as[(String, Long, Long)].collect()
    // windows: [10:00,10:10) click×2+view×2, [10:30,10:40) click×1
    assert(rows.toSeq == Seq(("click", 2L, 400L), ("view", 2L, 700L), ("click", 1L, 400L)))
  }

  test("dedupedEvents drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupedEvents(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dd").outputMode("append")
      .start()
    mem.addData(events(0), events(0), events(1), events(0), events(4))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").count() == 3)
  }

  test("sessionize closes sessions on gap timeout, keyed state per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess").outputMode("append")
      .start()
    mem.addData(events: _*)
    q.processAllAvailable()
    // push event time forward so open sessions time out; the second
    // sentinel (same user/ts, within gap) triggers the batch in which the
    // timeouts fire without closing the sentinel's own session
    mem.addData(Event(99, Timestamp.valueOf("2024-01-01 12:00:00"), 999, "click", 0.0))
    q.processAllAvailable()
    mem.addData(Event(98, Timestamp.valueOf("2024-01-01 12:00:00"), 999, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("sess")
      .select($"user_id", $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
      .as[(Long, Long, Double)].collect()
    // user 100: [e1,e2,e3] then [e4]; user 200: [e5]
    assert(sess.toSeq == Seq((100L, 3L, 6.0), (100L, 1L, 4.0), (200L, 1L, 5.0)))
  }

  test("readEvents consumes a parquet landing directory as a stream") {
    withTempDir("es-files") { dir =>
      events.toDF().write.mode("overwrite").parquet(s"$dir/in")
      val q = readEvents(spark, s"$dir/in", maxFilesPerTrigger = 2)
        .groupBy("user_id").count()
        .writeStream.format("memory").queryName("fe").outputMode("complete")
        .start()
      q.processAllAvailable()
      q.stop()
      val out = spark.table("fe").orderBy("user_id").as[(Long, Long)].collect()
      assert(out.toSeq == Seq((100L, 4L), (200L, 1L)))
    }
  }

  test("rawEventSchema: empty landing dir falls back to the epoch-nanos pin") {
    withTempDir("es-empty") { dir =>
      val schema = EventStream.rawEventSchema(spark, dir)
      assert(schema("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(schema.fieldNames.toSet ==
        Set("event_id", "ts", "user_id", "event_type", "value", "props"))
      // a NOT-YET-CREATED dir (producer creates it on first write, after
      // the stream starts) takes the same fallback instead of crashing
      val missing = EventStream.rawEventSchema(spark, dir + "/never-created")
      assert(missing == schema)
      // a populated dir still infers from footers (the primary path)
      val inferred =
        EventStream.rawEventSchema(spark, "/root/testdata/sf0.001/events.parquet")
      assert(inferred.fieldNames.contains("ts"))
    }
  }

  test("batchEvents converts nanos ts and reads the driver table") {
    val df = EventStream.batchEvents(graft.Tables(spark, "/root/testdata/sf0.001", "events"))
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(df.count() == 1000)
  }

  test("runWindowedCountsOnce (real streaming run) equals the batch aggregation") {
    val path = "/root/testdata/sf0.001/events.parquet"
    assume(new java.io.File(path).exists())
    val streamed = EventStream.runWindowedCountsOnce(spark, path)
      .orderBy("window_start_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    val batch = EventStream.windowedCounts(
      EventStream.batchEvents(spark.read.parquet(path)))
      .select(unix_micros($"window_start").as("window_start_us"),
        $"event_type", $"n_events", $"value_cents")
      .orderBy("window_start_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("RocksDB state store provider yields the identical streaming answer") {
    // The 100 TB state path: HDFSBackedStateStoreProvider keeps every
    // key in executor heap, which caps stream-stream joins and wide
    // dedup state at memory scale; RocksDB spills state to local disk.
    // The provider is a pluggable conf — the SAME query must return the
    // SAME result under either, which is what this pins (plus that the
    // provider actually loads — rocksdbjni ships with Spark), on the
    // windowed aggregate and on the stream-stream join, the most
    // state-bound lifecycle (keyToNumValues + keyWithIndexToValue per
    // join side).
    val path = "/root/testdata/sf0.001/events.parquet"
    assume(new java.io.File(path).exists())
    def answers(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      EventStream.runWindowedCountsOnce(spark, path)
        .orderBy("window_start_us", "event_type").collect().toSeq,
      EventStream.runAttributionOnce(spark, path)
        .orderBy("click_id", "purchase_id").collect().toSeq)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = answers()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val default = answers()
      assert(rocks == default)
      assert(rocks.forall(_.nonEmpty))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => if (spark.conf.getOption(key).isDefined) spark.conf.unset(key)
    }
  }

  test("runEnrichedCountsOnce (stream-static join) equals the batch join-aggregate") {
    val path = "/root/testdata/sf0.001/events.parquet"
    assume(new java.io.File(path).exists())
    val dim = graft.Tables(spark, "/root/testdata/sf0.001", "customer")
    val streamed = EventStream.runEnrichedCountsOnce(
        spark, path, dim, "c_custkey", "c_mktsegment")
      .orderBy("window_start_us", "segment")
      .as[(Long, String, Long, Long)].collect().toSeq
    val batch = EventStream.enrichedWindowedCounts(
        EventStream.batchEvents(spark.read.parquet(path)), dim,
        "c_custkey", "c_mktsegment")
      .select(unix_micros($"window_start").as("window_start_us"),
        $"segment", $"n_events", $"value_cents")
      .orderBy("window_start_us", "segment")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // every segment is enriched from the dimension, none lost to the join
    assert(streamed.map(_._3).sum == spark.read.parquet(path).count())
  }

  test("runAttributionOnce (stream-stream join) equals the batch range self-join") {
    val path = "/root/testdata/sf0.001/events.parquet"
    assume(new java.io.File(path).exists())
    val streamed = EventStream.runAttributionOnce(spark, path)
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long)].collect().toSeq
    val ev = EventStream.batchEvents(spark.read.parquet(path))
    val batch = EventStream.attributedPurchases(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "purchase"))
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("checkpointed AvailableNow runs resume incrementally and stay exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    withTempDir("stream-ckpt") { root =>
      val (landing, out, ckpt) =
        (s"$root/landing", s"$root/out", s"$root/ckpt")
      new java.io.File(landing).mkdirs()
      def runOnce(): Unit = {
        val q = spark.readStream
          .schema("id LONG, v LONG")
          .parquet(landing)
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // batch 1: ids 0..9; the run drains it and checkpoints the file log
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(landing)
      runOnce()
      assert(spark.read.parquet(out).count() == 10)
      // batch 2: ids 10..14 land later; the resumed run must process ONLY
      // the new file — replaying batch 1 would double its ids in the sink
      (10L until 15L).map(i => (i, i * 2)).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(landing)
      runOnce()
      val ids = spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
      assert(ids == (0L until 15L))
      // a third run with nothing new is a no-op
      runOnce()
      assert(spark.read.parquet(out).count() == 15)
    }
  }

  test("runStreamDedupOnce re-stages its duplicated landing when the source is regenerated") {
    withTempDir("dedup-restage") { dir =>
      def write(ids: Seq[Long]): java.io.File = {
        ids.map(i => (i, i * 1000000000L, 1L, "click", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/events")
        val part = new java.io.File(s"$dir/events").listFiles().filter(_.getName.endsWith(".parquet")).head
        val src = new java.io.File(s"$dir/events.parquet")
        java.nio.file.Files.move(part.toPath, src.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        src
      }
      def dedup(src: java.io.File): Seq[Long] =
        runStreamDedupOnce(spark, src.getAbsolutePath).as[Long].collect().toSeq.sorted
      assert(dedup(write(1L to 3L)) == (1L to 3L))
      // the regenerated source differs in size: both copies must follow it
      val src = write(10L to 20L)
      assert(dedup(src) == (10L to 20L))
      val landing = new org.apache.hadoop.fs.Path(stageLanding(spark, src.getAbsolutePath, "events_dup", copies = 2))
      try {
        val copies = new java.io.File(landing.toUri).listFiles().filterNot(_.getName.startsWith("."))
        assert(copies.length == 2)
        copies.foreach(c => assert(java.nio.file.Files.mismatch(c.toPath, src.toPath) == -1, c))
      } finally graft.Fs.of(spark, landing).delete(landing, true)
    }
  }

  test("runSessionizeOnce: non-final sessions emit, finals gate on the watermark") {
    // user 1: two sessions (gap 10s, events 60s apart force a close); its
    // FINAL session ends early enough that end + gap < maxTs − delay,
    // so the timeout batch emits it. user 2: one session ending at the
    // global max ts — must stay in state (never emitted).
    withTempDir("sess-stream") { dir =>
      val s = 1000L // ms per second
      val rows = Seq(
        (1L, 10 * s, 1L, "c", 100.0), (2L, 12 * s, 1L, "c", 50.0), // session A: 10-12s
        (3L, 60 * s, 1L, "c", 25.0),                               // session B: 60s
        (4L, 500 * s, 2L, "c", 10.0)                               // user 2 @ max ts
      ).toDF("event_id", "ts_ms", "user_id", "event_type", "value")
        .select($"event_id", ($"ts_ms" * 1000000).as("ts"), $"user_id", $"event_type", $"value")
      rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      // stage dir trick: runSessionizeOnce stages the FILE at eventsPath;
      // parquet write made a directory — point at one part file inside it
      val part = new java.io.File(s"$dir/events.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val out = try EventStream.runSessionizeOnce(spark, part.getAbsolutePath,
          gapMs = 10 * s, delayMs = 100 * s)
        .orderBy("user_id", "start_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      finally graft.Fs.dropDerived(spark, Seq(part.getAbsolutePath)) // the landing outlives no source
      // watermark = 500s − 100s = 400s. Session A closed in-batch; session
      // B final but 60s + 10s < 400s → timed out and emitted; user 2's
      // session ends at 500s → 510s > 400s → held in state.
      assert(out == Seq(
        (1L, 10 * s, 12 * s, 2L, 15000L), // 150.00 in cents
        (1L, 60 * s, 60 * s, 1L, 2500L)))
    }
  }
}
