package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Event-time streaming operators over the events table (SURVEY.md
  * §2.10/§7.2-5). The weather pipeline's own stream, which publishes
  * each micro-batch through the batch run's gated commit, is
  * `graft.pipeline.WeatherPipeline.startStream`; this object has no
  * table sink of its own, only lifecycles that drain to memory.
  *
  * The reference ingests on a daily schedule (batch); its raw table is
  * nonetheless an append-only event-time series (`observation_time` vs
  * `extracted_at` — dags/weatherstack_full_pipeline.py:38-39), so the
  * stream-native re-expression is: file/memory source → event-time
  * watermark → tumbling-window aggregates → sinks, plus keyed session
  * state via flatMapGroupsWithState for the training-data-pipeline tier.
  *
  * Everything here is a pure Dataset transform usable under both
  * `readStream` (incremental, stateful) and plain `read` (the same code
  * executes as a batch query — Spark's unified semantics), which is how
  * the specs verify windows/sessions deterministically.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet. At scale this is
    * the landing zone written by upstream producers; `maxFilesPerTrigger`
    * bounds per-micro-batch work. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Event-time tumbling-window aggregate with a watermark: count + exact
    * cent-sum of `value` per (window, event_type). Late rows beyond
    * `watermark` are dropped and their state evicted — bounded state at
    * any scale. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), window).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("value_cents"))

  // a stable alias so the object's own `window` name doesn't shadow it
  private object functions {
    def window(c: org.apache.spark.sql.Column, d: String) =
      org.apache.spark.sql.functions.window(c, d)
  }

  /** Stream-static enrichment: join the event stream to a bounded
    * dimension table (broadcast — STATELESS, the static side never enters
    * the state store and the stream side never shuffles for the join),
    * then aggregate per (event-time window, dimension attribute). Only
    * the windowed aggregate is stateful, so the watermark bound carries
    * over unchanged; at scale the dimension refresh is a re-broadcast,
    * not a state migration. */
  def enrichedWindowedCounts(events: DataFrame, dim: DataFrame,
                             dimKey: String, dimAttr: String,
                             watermark: String = "10 minutes",
                             window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col(dimKey).as("_dim_key"), col(dimAttr).as("segment"))),
        col("user_id") === col("_dim_key"))
      .groupBy(functions.window(col("ts"), window).as("w"), col("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("window_start"), col("segment"),
        col("n_events"), col("value_cents"))

  /** In-stream exact dedup by event_id, state bounded by the watermark
    * (duplicates arriving later than the watermark are already impossible
    * to admit). */
  def dedupedEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Long, total_value: Double)

  /** Gap-based sessionization per user via flatMapGroupsWithState with an
    * event-time timeout: a session closes when no event arrives within
    * `gapMs` of the last one (decided by watermark progress, so state is
    * bounded and the result is deterministic under any arrival order
    * within the watermark).
    */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Batch view of the driver events table with `ts` as a proper
    * TIMESTAMP, from either parquet vintage: epoch-nanos LongType
    * (TIMESTAMP(NANOS) under the session's nanosAsLong flag) or
    * timestamp[us] (arrives TIMESTAMP_NTZ; session tz is UTC so the
    * cast is the identity on the wall-clock). */
  def batchEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Schema for streaming reads of an events landing dir. The file
    * source requires a user schema; pinning one would break whenever the
    * producer's `ts` physical type changes (the driver has shipped both
    * TIMESTAMP(NANOS)→LongType and timestamp[us]→TIMESTAMP_NTZ, and test
    * fixtures write epoch-nanos BIGINT). Infer from one batch footer
    * read of the same dir — a fixed per-stream-setup driver cost —
    * and let [[batchEvents]] normalize `ts` downstream. An EMPTY or
    * NOT-YET-CREATED landing dir (files arrive only after the stream
    * starts — the normal deployment birth state; a producer may also
    * create the directory itself on first write) falls back to the
    * epoch-nanos pin instead of failing stream setup; [[batchEvents]]
    * normalizes either vintage so the fallback stays correct for both
    * producers. */
  def rawEventSchema(spark: SparkSession, dir: String): StructType =
    try spark.read.parquet(dir).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getMessage.contains("Unable to infer schema") ||
          e.getMessage.contains("does not exist") =>
          StructType(Seq(
            StructField("event_id", LongType),
            StructField("ts", LongType),
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("value", DoubleType),
            StructField("props", StringType)))
    }

  /** Conf set for bounded AvailableNow lifecycles whose OUTPUT does not
    * depend on the post-data watermark micro-batch: append-mode inner
    * stream-stream joins emit matches DURING the data batch (the
    * watermark only evicts state), `dropDuplicatesWithinWatermark`
    * passes first-seen rows through in-batch, and Complete-mode
    * aggregates re-emit the full result every batch — for all three the
    * trailing no-data batch only advances the watermark and commits
    * evictions, producing zero rows. Skipping it
    * (`noDataMicroBatches.enabled=false`) halves the number of
    * state-store commit rounds (each round = every store partition
    * writing + fsyncing a delta file into the checkpoint), which is
    * exactly the cost that blows up 5-10x when the host disk is busy
    * (measured: q_stream_join 20 s on a busy disk vs 2.3 s quiet, on
    * unchanged code). Event-time-TIMEOUT lifecycles (sessionize) MUST
    * NOT use this — their final emissions fire in that trailing batch.
    *
    * State width stays explicitly sized (8): streaming state is
    * partitioned at first run and pinned into the checkpoint; a real
    * deployment sizes it to state volume, not the session's batch
    * shuffle width. */
  private[streaming] def boundedLifecycleConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Stage a single driver file into its own landing DIRECTORY (the file
    * source consumes directories; at scale this is the producers' append
    * target), as `copies` files: one keeps the source's name, more are
    * named `a_<name>`, `b_<name>`, … (in-stream dedup then has real
    * duplicates to drop). The landing is a [[graft.Fs.derived]] copy of
    * the file, so a regenerated source table gets a fresh landing (never
    * a stale copy the batch twin would disagree with), and the dir holds
    * exactly the copies of one call. Shared by every streaming lifecycle
    * harness (events + documents). */
  private[graft] def stageLanding(spark: SparkSession, srcPath: String,
                                  name: String = "events_landing", copies: Int = 1): String =
    graft.Fs.derived(spark, s"${name}_x$copies", Seq(srcPath)) { stage =>
      val src = new Path(srcPath)
      for (i <- 0 until copies)
        FileUtil.copy(graft.Fs.of(spark, src), src, graft.Fs.of(spark, stage),
          new Path(stage, if (copies == 1) src.getName else s"${('a' + i).toChar}_${src.getName}"),
          false, spark.sparkContext.hadoopConfiguration)
    }.toString

  /** Drain `df` once (AvailableNow) into a uniquely named memory sink in
    * `mode` and hand back the sink's final rows as a local batch frame;
    * the sink's view is dropped, so repeated runs leave no tables behind.
    * The query's TEMP checkpoint lives on the ephemeral volume
    * ([[graft.Fs.ephemeralDir]] — tmpfs when the host has one) and is
    * deleted after the drain. Spark's own no-checkpoint path creates (and
    * deletes) a temp checkpoint under the JVM temp dir — disk-backed on
    * many hosts, where its per-batch offset/commit-log fsyncs pay the
    * disk-writeback tax that dominates a streaming query's run time when
    * the disk is busy. No durability claim changes: a temp checkpoint
    * never survives the query either way. Lifecycles that RESUME from
    * their checkpoint (the near-dup runners) manage their own paths and
    * must not use this. */
  private[streaming] def drainToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val name = "stream_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = graft.Fs.ephemeralDir("graft_ckpt_")
    // start() is INSIDE the try: an AnalysisException from query
    // planning would otherwise leak the checkpoint dir on a RAM-backed
    // volume
    try df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start().awaitTermination()
    finally graft.Fs.deleteRecursively(ckpt)
    try {
      val sink = spark.table(name)
      val (rows, schema) = (sink.collect(), sink.schema)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally spark.catalog.dropTempView(name)
  }

  /** Run [[windowedCounts]] through the REAL streaming engine — file
    * source → event-time window aggregation → memory sink, Trigger
    * .AvailableNow, complete mode — and hand back the final result as a
    * local batch frame. This is what puts the STREAMING operator (not
    * just its unified-semantics batch twin) under the DuckDB correctness
    * gate: bounded input + complete mode make the streaming answer
    * deterministic and equal to the batch aggregation of the same files.
    * The collected result is the windowed AGGREGATE (hours × types —
    * tiny by construction); the aggregation itself ran distributed.
    */
  def runWindowedCountsOnce(spark: SparkSession, eventsPath: String): DataFrame = {
    val landing = stageLanding(spark, eventsPath)
    // Streaming aggregation state is partitioned by the shuffle width AT
    // FIRST RUN and every micro-batch pays per-state-partition store
    // setup; the window×type state here is tiny, so size it like any
    // other small shuffle (graft.Par's floor) instead of the session
    // default (see boundedLifecycleConfs for the no-data-batch skip).
    graft.Sessions.withConf(spark, boundedLifecycleConfs: _*) {
      val raw = spark.readStream.schema(rawEventSchema(spark, landing)).parquet(landing)
      drainToMemory(windowedCounts(batchEvents(raw))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("value_cents")),
        OutputMode.Complete())
    }
  }

  /** Run [[dedupedEvents]] (dropDuplicatesWithinWatermark) through the
    * real engine over a landing directory that contains every event
    * twice — the emitted set must be the distinct event ids. State is
    * bounded by the watermark: an id older than the watermark cannot be
    * re-admitted, so its key is evictable, which is the whole point at
    * unbounded-retention scale. */
  def runStreamDedupOnce(spark: SparkSession, eventsPath: String): DataFrame = {
    val landing = stageLanding(spark, eventsPath, "events_dup", copies = 2)
    graft.Sessions.withConf(spark, boundedLifecycleConfs: _*) {
      val raw = spark.readStream.schema(rawEventSchema(spark, landing)).parquet(landing)
      drainToMemory(dedupedEvents(batchEvents(raw)).select(col("event_id")),
        OutputMode.Append())
    }
  }

  /** STREAM-STREAM inner join with an event-time range condition: each
    * purchase attributes to the same user's clicks in the preceding hour.
    * BOTH sides hold watermark-bounded state; the range condition is what
    * lets the engine evict — a click older than (watermark − 1 h) can
    * never match a future purchase, so state stays bounded at any scale.
    * Inner-join matches emit as soon as both rows arrive (append mode),
    * so over bounded input the emitted set is deterministic and equal to
    * the batch join. */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame,
                          watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"))
  }

  /** Run [[attributedPurchases]] as a real stream-stream SELF-join over
    * the bounded events file (clicks and purchases are two filtered reads
    * of the same stream) — append mode + AvailableNow. */
  def runAttributionOnce(spark: SparkSession, eventsPath: String): DataFrame = {
    val landing = stageLanding(spark, eventsPath)
    // The join keeps FOUR state stores per partition (keyToNumValues +
    // keyWithIndexToValue, each side) — by far the most commit-I/O-bound
    // lifecycle in the registry, and the one a busy disk slows most
    // (10x measured). boundedLifecycleConfs halves its commit rounds.
    graft.Sessions.withConf(spark, boundedLifecycleConfs: _*) {
      val raw = spark.readStream.schema(rawEventSchema(spark, landing)).parquet(landing)
      val ev = batchEvents(raw)
      drainToMemory(attributedPurchases(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase")), OutputMode.Append())
    }
  }

  /** Run [[enrichedWindowedCounts]] through the real streaming engine —
    * file source → broadcast stream-static join → event-time windowed
    * aggregate → memory sink, AvailableNow + complete mode. Same
    * determinism contract as [[runWindowedCountsOnce]]: bounded input +
    * complete mode make the answer equal to the batch join-aggregate of
    * the same files. */
  def runEnrichedCountsOnce(spark: SparkSession, eventsPath: String,
                            dim: DataFrame, dimKey: String,
                            dimAttr: String): DataFrame = {
    val landing = stageLanding(spark, eventsPath)
    graft.Sessions.withConf(spark, boundedLifecycleConfs: _*) {
      val raw = spark.readStream.schema(rawEventSchema(spark, landing)).parquet(landing)
      drainToMemory(enrichedWindowedCounts(batchEvents(raw), dim, dimKey, dimAttr)
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("segment"), col("n_events"), col("value_cents")),
        OutputMode.Complete())
    }
  }

  /** Run [[sessionize]] (flatMapGroupsWithState + event-time timeout)
    * through the REAL streaming engine over the bounded events file and
    * hand back the emitted sessions as a local batch frame. Determinism
    * contract (oracle-checkable): one data batch carries every event, so
    * each user's non-final sessions close IN batch (emitted regardless of
    * the watermark); the engine then appends the extra batch stateful
    * queries require, firing event-time timeouts against the final
    * watermark W = floor(max event ms) − delay — a user's FINAL session
    * emits iff session_end_ms + gap < W, and later sessions stay in
    * state. Values are pre-scaled to integral cents so the sequential
    * state additions are exact and arrival-order-independent.
    */
  def runSessionizeOnce(spark: SparkSession, eventsPath: String,
                        gapMs: Long, delayMs: Long): DataFrame = {
    import spark.implicits._
    val landing = stageLanding(spark, eventsPath)
    // NOT the no-data-batch skip: the event-time TIMEOUT fires in the
    // trailing no-data micro-batch — skipping it would suppress every
    // final-session emission (the one lifecycle whose output DEPENDS on
    // the post-data watermark batch), so boundedLifecycleConfs minus
    // the no-data flag.
    graft.Sessions.withConf(spark, boundedLifecycleConfs
      .filterNot(_._1 == "spark.sql.streaming.noDataMicroBatches.enabled"): _*) {
      val raw = spark.readStream.schema(rawEventSchema(spark, landing)).parquet(landing)
      val ev = batchEvents(raw)
        .withColumn("value", round(col("value") * 100))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event]
      drainToMemory(sessionize(ev, gapMs, s"$delayMs milliseconds")
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"),
          col("total_value").cast("long").as("total_cents")),
        OutputMode.Append())
    }
  }
}
