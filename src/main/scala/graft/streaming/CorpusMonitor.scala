package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming CORPUS-QUALITY DRIFT monitor — the ingestion-side guardrail
  * of a continuously-fed training-data pipeline: as document batches
  * land, per-(event-time window, language) volume and quality statistics
  * stream out, so a crawler that suddenly ships boilerplate (chars/token
  * collapsing), drops a language, or floods one source shows up within a
  * window's latency instead of at the next full-corpus audit.
  *
  * The arrival-time seam mirrors the synthetic-media discipline
  * (multimodal.SynthImages): the driver's documents table carries no
  * ingest timestamp, so event time derives deterministically from doc_id
  * (one doc per second from the epoch) — the Spark-side plumbing
  * (watermark, window state, AvailableNow lifecycle, memory sink) is
  * real and gate-verified; a deployment swaps the derived column for its
  * landing timestamp.
  *
  * Scale shape: one stateful window×lang aggregation. In the REAL
  * deployment shape (append mode, landing-timestamp event time) state
  * is O(open windows × languages) — bounded by the watermark horizon
  * and the wall clock, NOT corpus size, because window count tracks
  * elapsed time. The GATED run is different and deliberately so: the
  * derived 1-doc-per-second clock ties window count to n_docs/100, and
  * Complete mode retains every window for the memory sink — a
  * corpus-proportional harness cost that exists only so the bounded
  * fixture's full answer can be hash-compared; it is the gate harness,
  * not the operator, and a deployment must NOT run Complete mode over
  * a derived-from-id clock. Every statistic is an exact-integer SUM
  * (map-side partials) and the quality ratio one final integer
  * division of exact sums, so the streamed answer is bit-equal to the
  * batch twin under any micro-batch slicing (the unified-semantics
  * claim the gate actually checks).
  */
object CorpusMonitor {

  /** Batch-twin transform: derived event time → window(100s) × lang →
    * exact-integer volume/quality stats. Watermark bounds state in a
    * long-running append deployment; the gated run uses Complete over
    * bounded input, where it is inert. */
  def qualityDrift(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", timestamp_seconds(col("doc_id")))
      .withWatermark("ts", "120 seconds")
      .groupBy(window(col("ts"), "100 seconds").as("w"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .select(expr("unix_micros(w.start) div 1000000").as("window_start_s"),
        col("lang"), col("n_docs"), col("n_tokens"), col("sum_chars"),
        expr("(1000 * sum_chars) div n_tokens").as("chars_per_tok_permille"))

  /** Run [[qualityDrift]] through the REAL streaming engine (file source
    * → stateful window aggregation → memory sink, AvailableNow,
    * Complete) and return the final frame — the q_stream_window_counts
    * lifecycle harness applied to the documents table. */
  def runQualityDriftOnce(spark: SparkSession, docsPath: String): DataFrame = {
    val landing = EventStream.stageLanding(docsPath, "graft_docs_landing_")
    // window×lang state is tiny — size the state shuffle accordingly
    // (pinned into the checkpoint at first run, like the event streams);
    // Complete mode re-emits the full result every data batch, so the
    // trailing no-data batch is skipped (EventStream.boundedLifecycleConfs)
    graft.Sessions.withConf(spark, EventStream.boundedLifecycleConfs: _*) {
      val schema = spark.read.parquet(landing.getAbsolutePath).schema
      val raw = spark.readStream.schema(schema).parquet(landing.getAbsolutePath)
      EventStream.drainToMemory(qualityDrift(raw), OutputMode.Complete())
    }
  }
}
