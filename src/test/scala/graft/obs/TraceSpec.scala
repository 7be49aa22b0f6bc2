package graft.obs

import java.sql.Timestamp

import org.apache.spark.graft.{Bus, Listeners}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.pipeline.WeatherPipeline

class TraceSpec extends SparkSpec {
  import spark.implicits._

  /** Listeners of any kind that belong to a trace. */
  private def traceListeners(): Int =
    Listeners.attached(spark.sparkContext).count(_.isInstanceOf[Trace.Recorder]) +
      spark.streams.listListeners().count(_.getClass.getName.startsWith("graft.obs.Trace$"))

  test("a grouped count reports its jobs, stages, tasks, shuffle and one action") {
    val (rows, r) = Trace.around(spark) {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect()
    }
    assert(rows.length == 7)
    assert(r.jobs >= 1 && r.stages >= 2 && r.tasks >= 4, r.summary)
    assert(r.shuffleBytes > 0 && r.shuffleReadBytes > 0, r.summary)
    assert(r.planMs >= 0)
    assert(r.actions == 1, r.summary)
    assert(r.timeline.map(_.id).distinct.size == r.jobs)
    assert(r.timeline.forall(_.wallMs >= 0))
  }

  test("events still queued when the body returns are counted") {
    // registered first on the same queue, this listener delays every
    // job-end and SQL-end delivery to the trace until well after the
    // body returns
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(500)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd => Thread.sleep(300)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      def traced(): Trace.Report = Trace.around(spark)(spark.range(0, 100, 1, 2).count())._2
      val alone = traced()
      assert(alone.jobs >= 1 && alone.actions == 1, alone.summary)
      // the events of an action that ended before the trace began are
      // still queued behind `slow` when it attaches: none is the body's
      spark.range(0, 100, 1, 2).count()
      val after = traced()
      assert(after.actions == 1 && after.jobs == alone.jobs, after.summary)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a throwing body rethrows as Failed with its partial report, listeners detached") {
    val e = intercept[Trace.Failed] {
      Trace.around(spark) {
        spark.range(0, 100, 1, 2).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getCause.isInstanceOf[IllegalStateException] && e.getMessage == "boom")
    assert(e.report.jobs >= 1 && e.report.actions == 1, e.report.summary)
    assert(traceListeners() == 0)
  }

  test("the listeners are detached when around returns") {
    val (_, r) = Trace.around(spark)(spark.range(0, 1000, 1, 4).count())
    val counts = r.counts
    assert(traceListeners() == 0)
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count().collect()
    Bus.drain(spark.sparkContext)
    assert(r.counts == counts)
  }

  test("a pipeline stream reports every micro-batch with its input rows and addBatch time") {
    val t0 = Timestamp.valueOf("2024-06-02 08:30:00")
    val now = Timestamp.valueOf("2024-06-02 09:00:00")
    def payload(city: String, temp: Int): String =
      s"""{"location":{"name":"$city","country":"X"},"current":{"temperature":$temp,""" +
        s""""weather_descriptions":["Sunny"],"humidity":50,"wind_speed":10,"wind_dir":"NW",""" +
        s""""pressure":1013,"visibility":10,"uv_index":4,"observation_time":"08:30 AM"}}"""
    val files = Seq(
      Seq(("Paris", payload("Paris", 18)), ("ErrCity", """{"error":{"code":615}}""")),
      Seq(("Tokyo", payload("Tokyo", 25)), ("Oslo", payload("Oslo", 5)), ("Rome", payload("Rome", 22))))
    val dir = java.nio.file.Files.createTempDirectory("trace-stream").toString
    files.foreach(rows => rows.map { case (c, j) => (c, j, t0) }
      .toDF("city", "raw_json", "data_interval_start").coalesce(1)
      .write.mode("append").json(s"$dir/landing"))
    val (_, r) = Trace.around(spark) {
      val q = WeatherPipeline.startStream(spark, s"$dir/landing", s"$dir/ckpt", s"$dir/out", now)
      try q.processAllAvailable() finally q.stop()
    }
    assert(r.batches.nonEmpty)
    assert(r.batches.map(_.numInputRows).sum == files.map(_.size).sum)
    assert(r.batches.exists(b => b.numInputRows > 0 && b.durationMs.contains("addBatch")))
    // the error payload is routed out
    assert(spark.read.parquet(s"$dir/out/raw/weather").count() == 4)
    assert(spark.read.parquet(s"$dir/out/marts/fct_weather_observations").count() == 4)
  }
}
