package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.WeatherPipeline

/** The pipeline benchmark's JVM side: builds the workload's inputs with
  * [[Gen]], times a closed loop of ops with one client on `local[4]`,
  * checks every op's output outside the timed region and prints one JSON
  * result line (plus a detail line before it).
  *
  * {{{
  * perfbench.Main --workload daily|backfill|registry --seed N --seconds S
  *                --trace 0|1 --work DIR --registry FILE --data DIR
  *                --launched EPOCH_SECONDS [--cold-only 1]
  * perfbench.Main --gen-backfill DIR --seed N --days D   # landing files only
  * }}}
  */
object Main {

  val Cpus = "4"
  /** Fewest ops a run makes (the cold op included). */
  val MinOps = 4
  /** `backfill` size: cities (payload rows) per day. */
  val BackfillCities = 80000

  /** `launched`: epoch seconds at which the JVM process was started.
    * `coldOnly`: set up, run the cold ops, check them and stop. */
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, registry: File, data: File, launched: Double,
                        coldOnly: Boolean = false)

  /** One timed op: a day, a backfill day or a query. `interval` keys the
    * pipeline ops' output checks. */
  final case class Op(k: Int, label: String, wall: Double, rows: Long, traced: Boolean,
                      error: Option[String], interval: Option[Timestamp] = None) {
    var wrong: Option[String] = None
    def failed: Boolean = error.isDefined || wrong.isDefined
  }

  /** Per-op trace readings of a pipeline op (seconds). */
  final case class OpTrace(wall: Double, fetchS: Double, actionS: Double,
                           attempts: Int, successes: Int, payloads: Long)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("gen-backfill") match {
      case Some(dir) => genBackfill(kv("seed").toLong, kv("days").toInt, new File(dir)); return
      case None =>
    }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("work")), new File(kv("registry")), new File(kv("data")), kv("launched").toDouble,
      kv.get("cold-only").contains("1"))
    val out = run(o)
    println(out._1)
    println(out._2)
  }

  /** Writes the backfill landing files and `expect.tsv` (day, interval,
    * now, payloads, raw, in-range) for the DuckDB yardstick. */
  def genBackfill(seed: Long, nDays: Int, dir: File): Unit = {
    val days = Gen.writeBackfill(seed, nDays, BackfillCities, dir)
    val w = new java.io.PrintWriter(new File(dir, "expect.tsv"))
    try days.foreach(d => w.println(Seq(d.day, d.interval.toInstant, d.now.toInstant,
      d.expect.payloads, d.expect.raw, d.expect.inRange).mkString("\t")))
    finally w.close()
  }

  // ---------------------------------------------------------------- run

  /** Returns (detail line, result line). */
  def run(o: Opts): (String, String) = {
    val t00 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2fs $name")
    val host = mutable.LinkedHashMap[String, Any](
      "cores" -> Runtime.getRuntime.availableProcessors,
      "mem_total_kb" -> memTotalKb(),
      "loadavg_start" -> loadavg(),
      "canary_io_start_s" -> graft.Canary.io(),
      "canary_cpu_start_s" -> graft.Canary.cpu())
    o.work.mkdirs()
    val wl: Workload = o.workload match {
      case "daily" => new Daily(o)
      case "backfill" => new Backfill(o)
      case "registry" => new Registry(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.prepare()
    phase("inputs ready")
    val tBuild = System.nanoTime()
    val spark = graft.Sessions.build(Cpus, Map(
      "spark.sql.warehouse.dir" -> new File(o.work, "warehouse").getAbsolutePath))
    spark.sparkContext.setLogLevel("WARN")
    val sessionBuildS = (System.nanoTime() - tBuild) / 1e9
    phase("session built")
    val probe = if (o.trace) Some(new Probe) else None

    val ops = mutable.ArrayBuffer.empty[Op]
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    val loopStart = System.nanoTime()
    // set-up: process start until the first timed op
    val setupS = epochSeconds() - o.launched
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var k = 0
    while (wl.more(k) && !(o.coldOnly && k >= wl.coldOps)) {
      val traced = probe.isDefined && wl.traced(k)
      probe.filter(_ => traced).foreach { p => p.scope = wl.scope(k); Probe.attach(spark, p) }
      val action0 = probe.map(_.actionS).getOrElse(0.0)
      val (op, fetch) = wl.op(spark, k, traced)
      if (traced) {
        val p = probe.get
        Probe.detach(spark, p)
        traces += OpTrace(op.wall, fetch.map(_.seconds).getOrElse(0.0), p.actionS - action0,
          fetch.map(_.attempts).getOrElse(0), fetch.map(_.successes).getOrElse(0), op.rows)
      } else Bus.drain(spark.sparkContext)
      ops += op
      k += 1
    }
    val loopS = elapsed
    val retained = retainedMb()
    phase(s"$k ops done")

    // ---- output checks, outside the timed region
    wl.check(spark, ops.toSeq)
    val extra = if (o.coldOnly) Map.empty[String, Any] else wl.extra(spark, ops.toSeq)
    phase("outputs checked")
    val cold = ops.take(wl.coldOps).map(_.wall).sum
    if (o.coldOnly) return (
      Json.obj(Seq("workload" -> o.workload, "seed" -> o.seed, "cold_only" -> true,
        "session_build_s" -> sessionBuildS, "failures" -> ops.filter(_.failed).map(op =>
          s"${op.label}: ${op.error.orElse(op.wrong).getOrElse("")}"))),
      Json.obj(Seq("attempted" -> ops.size, "failed" -> ops.count(_.failed),
        "setup_s" -> setupS, "cold_s" -> cold)))

    host("loadavg_finish") = loadavg()
    host("canary_io_finish_s") = graft.Canary.io()
    host("canary_cpu_finish_s") = graft.Canary.cpu()

    val attempted = ops.size
    val failed = ops.count(_.failed)
    val warm = ops.filter(op => wl.measured(op.k)).map(_.wall).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "cold_s" -> (cold, "s"),
      "p50_s" -> (Stats.median(warm), "s"),
      "ops_per_s" -> (warm.size / warm.sum, "1/s"),
      "retained_mb" -> (retained, "MB"))

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "ops" -> attempted, "warm_samples" -> warm.size, "loop_s" -> loopS,
      "session_build_s" -> sessionBuildS,
      "op_walls_s" -> ops.map(_.wall),
      "peak_rss_mb" -> peakRssKb() / 1024.0,
      "fail_ratio" -> Stats.failRatio(attempted, failed),
      "failures" -> ops.filter(_.failed).take(5).map(op =>
        s"${op.label}: ${op.error.orElse(op.wrong).getOrElse("")}"))
    detail ++= e2e.map { case (n, (v, _)) => n -> v }
    detail ++= wl.named(ops.toSeq, warm)
    detail ++= extra
    detail("host") = host

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e.toSeq.map { case (n, (v, u)) => (n, v, u) }
      else {
        val values = wl.layerValues(probe.get, ops.toSeq, traces.toSeq, extra)
        LayerNames.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }

    val result = "{" + Seq(
      "\"correct\":" + (failed == 0),
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      "\"metrics\":{" + metrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",") + "}").mkString(",") + "}"
    (Json.obj(detail.toSeq), result)
  }

  // ---------------------------------------------------------- workloads

  /** One workload: its inputs, its op, its checks and its layer report. */
  abstract class Workload(val o: Opts) {
    def prepare(): Unit = ()
    /** Whether op `k` runs; the first `coldOps` ops are the cold ones. */
    def more(k: Int): Boolean
    /** Ops whose summed wall is `cold_s`: the first op in a fresh JVM. */
    def coldOps: Int = 1
    /** Whether op `k` counts toward the warm figures. */
    def measured(k: Int): Boolean = k > 0
    /** Traced run: of the measured ops, odd ones run with the listeners
      * attached and even ones without, so the tracing overhead is
      * measured on interleaved ops. */
    def traced(k: Int): Boolean = measured(k) && k % 2 == 1
    def scope(k: Int): String = Probe.Pipeline
    def op(spark: SparkSession, k: Int, traced: Boolean): (Op, Option[TimedFetcher])
    def check(spark: SparkSession, ops: Seq[Op]): Unit
    def extra(spark: SparkSession, ops: Seq[Op]): Map[String, Any] = Map.empty
    /** The workload's figures under the names used in the docs. */
    def named(ops: Seq[Op], warm: Seq[Double]): Seq[(String, Any)]
    /** Per-layer values by name; layers the workload does not run are
      * left out and reported as 0. */
    def layerValues(p: Probe, ops: Seq[Op], traces: Seq[OpTrace],
                    extra: Map[String, Any]): Map[String, Double]
  }

  val LandingSchema: StructType = StructType(Seq(
    StructField("city", StringType), StructField("raw_json", StringType)))

  /** Shared by `daily` and `backfill`: both write one output root through
    * the pipeline and check it per interval. */
  abstract class PipelineWorkload(o: Opts) extends Workload(o) {
    val out: String = new File(o.work, s"out_${o.workload}").getAbsolutePath
    /** Nominal seconds per warm op on a 4-core host; sizes a run. */
    def nominalOpS: Double
    /** After the cold op come `warmupOps` untimed ops, past the steepest
      * part of the JVM's warm-up, then the measured warm ops: a fixed
      * count, about `--seconds` of work at the nominal op time, so every
      * run times the same ops at the same point of the warm-up. */
    def warmupOps: Int
    def warmOps: Int = math.max(MinOps - 1, math.round(o.seconds / nominalOpS).toInt)
    def more(k: Int): Boolean = k <= warmupOps + warmOps
    override def measured(k: Int): Boolean = k > warmupOps
    /** Expected counts of the last op on each interval. */
    def expected(ops: Seq[Op]): Map[Timestamp, Gen.Expect]

    /** Every payload the generator means to land carries a temperature;
      * a raw.weather row without one comes from a payload that did not
      * parse (the malformed share): `from_json` gives a partial struct,
      * so ingest lands it in raw without a temperature. */
    def parsed: org.apache.spark.sql.Column = col("temperature").isNotNull
    /** raw.weather rows without a parsed payload, over the final output. */
    var unparsedRaw = 0L

    def read(spark: SparkSession, table: String): Option[DataFrame] =
      if (new File(s"$out/$table").isDirectory) Some(spark.read.parquet(s"$out/$table")) else None

    /** Per op: the final raw ids of its interval that carry a parsed
      * payload, and its fct partition's rows, equal the generator's
      * counts for the last run of that interval. Rows landed without a
      * parsed payload are reported as `raw_unparsed_rows` (and counted in
      * `history_violations`), not as failed ops. */
    def check(spark: SparkSession, ops: Seq[Op]): Unit = {
      val exp = expected(ops)
      val raw = read(spark, "raw/weather").map(_.groupBy("data_interval_start")
        .agg(countDistinct(when(parsed, col("id"))), sum(when(parsed, 0L).otherwise(1L)))
        .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap)
        .getOrElse(Map.empty)
      unparsedRaw = raw.values.map(_._2).sum
      val fct = read(spark, "marts/fct_weather_observations").map(_.groupBy("extraction_date")
        .count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap).getOrElse(Map.empty)
      ops.filter(_.error.isEmpty).foreach { op =>
        val i = op.interval.get
        val e = exp(i)
        val date = i.toInstant.toString.take(10)
        val gotRaw = raw.get(i).map(_._1).getOrElse(0L)
        val gotFct = fct.getOrElse(date, 0L)
        if (gotRaw != e.raw || gotFct != e.inRange) op.wrong = Some(
          s"interval $date: raw ids $gotRaw (want ${e.raw}), fct rows $gotFct (want ${e.inRange})")
      }
    }

    /** Bytes under the output root per payload row sent through the pipeline. */
    def writeBytesPerRow(ops: Seq[Op]): Double = {
      def size(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
      size(new File(out)).toDouble / math.max(1L, ops.map(_.rows).sum)
    }

    override def extra(spark: SparkSession, ops: Seq[Op]): Map[String, Any] =
      Map("write_bytes_per_row" -> writeBytesPerRow(ops), "raw_unparsed_rows" -> unparsedRaw)

    def layerValues(p: Probe, ops: Seq[Op], ts: Seq[OpTrace],
                    extra: Map[String, Any]): Map[String, Double] = {
      // per-batch means over the traced ops
      val n = math.max(1, ts.size).toDouble
      def a(l: String) = p.layers.getOrElse(l, new Acc)
      val ingest = a("pipeline.ingest"); val gates = a(Probe.Gates)
      val dim = a("pipeline.dim"); val fct = a("sources.fct_write")
      val untracedWarm = ops.filter(op => measured(op.k) && !op.traced).map(_.wall)
      val attempts = ts.map(_.attempts).sum
      Map(
        "pipeline.fetch.s" -> ts.map(_.fetchS).sum / n,
        "pipeline.fetch.attempts" -> attempts / n,
        "pipeline.fetch.yield" -> (if (attempts == 0) 0.0 else ts.map(_.successes).sum.toDouble / attempts),
        "pipeline.ingest.s" -> ingest.s / n,
        "pipeline.ingest.rows_out" -> ingest.outRows / n,
        "pipeline.ingest.rows_rejected" -> (ts.map(_.payloads).sum - ingest.outRows) / n,
        "pipeline.ingest.out_bytes" -> ingest.outBytes / n,
        "pipeline.ingest.plan_s" -> ingest.planS / n,
        "quality.gates.s" -> gates.s / n,
        "quality.gates.jobs" -> gates.jobs / n,
        "quality.gates.tasks" -> gates.tasks / n,
        "quality.gates.plan_s" -> gates.planS / n,
        "pipeline.dim.s" -> dim.s / n,
        "pipeline.dim.shuffle_bytes" -> dim.shuffleBytes / n,
        "pipeline.dim.out_bytes" -> dim.outBytes / n,
        "pipeline.dim.plan_s" -> dim.planS / n,
        "sources.fct_write.s" -> fct.s / n,
        "sources.fct_write.files" -> fct.files / n,
        "sources.fct_write.out_bytes" -> fct.outBytes / n,
        "sources.fct_write.plan_s" -> fct.planS / n,
        // batch wall time not covered by the fetch or by any action
        "pipeline.driver.s" -> ts.map(t => t.wall - t.fetchS - t.actionS).sum / n,
        "spark.plan_s" -> p.layers.values.map(_.planS).sum / n,
        "spark.task_wait_s" -> p.taskWaitS / n,
        "spark.gc_s" -> p.gcS / n,
        "trace.op_wall_s" -> ts.map(_.wall).sum / n,
        "trace.overhead" -> (if (ts.isEmpty || untracedWarm.isEmpty) 0.0
          else Stats.median(ts.map(_.wall)) / Stats.median(untracedWarm) - 1),
        "pipeline.write_bytes_per_row" -> extra("write_bytes_per_row").asInstanceOf[Double],
        "pipeline.history_violations" ->
          extra.get("history_violations").map(_.asInstanceOf[Long].toDouble).getOrElse(0.0),
        "bench.fail_ratio" -> Stats.failRatio(ops.size, ops.count(_.failed)))
    }
  }

  /** `daily`: the reference DAG's scheduled run, seven cities per day
    * through `runDaily` with a seeded fetcher; every fifth op re-runs a
    * recent day; all days write into one output root. */
  final class Daily(o: Opts) extends PipelineWorkload(o) {
    def nominalOpS: Double = 1.5
    def warmupOps: Int = 3
    private val runs = mutable.Map.empty[Int, Gen.DayRun]

    def op(spark: SparkSession, k: Int, traced: Boolean): (Op, Option[TimedFetcher]) = {
      val r = Gen.dailyOp(o.seed, k)
      runs(k) = r
      val seeded = new Gen.SeededFetcher(r.obs)
      val timed = if (traced) Some(new TimedFetcher(seeded)) else None
      val t0 = System.nanoTime()
      val res = try Right(WeatherPipeline.runDaily(spark, timed.getOrElse(seeded), r.cities,
        r.interval, r.now, out, retries = Gen.Retries))
      catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val op = Op(k, s"day ${r.day} run ${r.run}", wall, r.expect.payloads, traced,
        res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
        Some(r.interval))
      // the fetch loop's contract: attempts per city, skipped cities
      res.foreach { results =>
        val bad = results.filter { f =>
          f.attempts != r.attempts(f.city) ||
            f.rawJson.isDefined != r.obs.exists(x => x.city == f.city && x.outcome != Gen.Permanent)
        }
        if (bad.nonEmpty || results.size != r.cities.size)
          op.wrong = Some(s"fetch results differ for ${bad.map(_.city).mkString(",")}")
      }
      (op, timed)
    }

    private def lastRuns(ops: Seq[Op]): Seq[Gen.DayRun] =
      ops.map(op => runs(op.k)).groupBy(_.day).values.map(_.maxBy(_.op)).toSeq

    def expected(ops: Seq[Op]): Map[Timestamp, Gen.Expect] =
      lastRuns(ops).map(r => r.interval -> r.expect).toMap

    /** Rows in which raw, dim or fct differ from a one-shot rebuild over
      * the last run of each interval, plus duplicate raw ids. The rebuild
      * is computed from the generator's records, not by the pipeline; the
      * day outputs are small, so both sides are compared on the driver. */
    def historyViolations(spark: SparkSession, ops: Seq[Op]): Long = {
      val obs = lastRuns(ops).flatMap(r => r.obs.map(x => (r, x)))
      val inRange = obs.filter(_._2.outcome == Gen.Valid)
      val expRaw = obs.filter(_._2.raw).map { case (r, x) =>
        Seq[Any](x.city, r.interval, r.now, x.temperature) }
      val expFct = inRange.map { case (r, x) => Seq[Any](r.interval, r.now, x.temperature) }
      val expDim = inRange.groupBy { case (_, x) => (x.city.trim.toUpperCase, x.country.trim.toUpperCase) }
        .toSeq.map { case ((c, n), xs) =>
          val nows = xs.map(_._1.now)
          Seq[Any](c, n, nows.minBy(_.getTime), nows.maxBy(_.getTime), xs.size.toLong) }
      def rows(table: String, cols: String*): Seq[Seq[Any]] =
        read(spark, table).map(_.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)).getOrElse(Nil)
      /** Size of the multiset symmetric difference. */
      def diff(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Long = {
        val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
        val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
        (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
      }
      val raw = rows("raw/weather", "id", "city", "data_interval_start", "extracted_at", "temperature")
      val dupIds = raw.size - raw.map(_.head).distinct.size
      diff(raw.map(_.tail), expRaw) +
        diff(rows("marts/dim_locations", "city", "country", "first_observation_date",
          "last_observation_date", "total_observations"), expDim) +
        diff(rows("marts/fct_weather_observations", "data_interval_start", "extracted_at",
          "temperature"), expFct) +
        dupIds
    }

    override def extra(spark: SparkSession, ops: Seq[Op]): Map[String, Any] =
      super.extra(spark, ops) + ("history_violations" -> historyViolations(spark, ops))

    def named(ops: Seq[Op], warm: Seq[Double]): Seq[(String, Any)] = Seq(
      "daily_cold_s" -> ops.head.wall,
      "daily_p50_s" -> Stats.median(warm),
      // the p90 is reported only when at least 10 samples lie above it
      "daily_p90_s" -> (if (warm.size >= 100) Some(Stats.percentile(warm, 0.9)) else None),
      "daily_rows_per_s" -> ops.filter(op => measured(op.k)).map(_.rows).sum / warm.sum)
  }

  /** `backfill`: many cities per day from JSON-lines landing files, one
    * `runBatch` per day; data-bound (parse, shuffle, parquet encode). */
  final class Backfill(o: Opts) extends PipelineWorkload(o) {
    def nominalOpS: Double = 3.0
    def warmupOps: Int = 1
    private val landing = new File(o.work, "landing")
    private var days: Seq[Gen.BackfillDay] = Nil

    override def prepare(): Unit =
      days = Gen.writeBackfill(o.seed, 1 + warmupOps + warmOps, BackfillCities, landing)

    def op(spark: SparkSession, k: Int, traced: Boolean): (Op, Option[TimedFetcher]) = {
      val d = days(k)
      val t0 = System.nanoTime()
      val err = try {
        val payloads = spark.read.schema(LandingSchema).json(Gen.backfillDir(landing, d.day))
        WeatherPipeline.runBatch(payloads, d.interval, d.now, out)
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      (Op(k, s"backfill day ${d.day}", wall, d.expect.payloads, traced, err, Some(d.interval)), None)
    }

    def expected(ops: Seq[Op]): Map[Timestamp, Gen.Expect] =
      days.map(d => d.interval -> d.expect).toMap

    def named(ops: Seq[Op], warm: Seq[Double]): Seq[(String, Any)] = Seq(
      "backfill_rows_per_s" -> ops.filter(op => measured(op.k)).map(_.rows).sum / warm.sum,
      "backfill_rows" -> ops.map(_.rows).sum)
  }

  /** `registry`: passes over a fixed sample of `SparkEntry.queries`, in
    * name order, caches cleared before every query. The first pass, in a
    * fresh JVM, is the cold one (`cold_s` is its wall time); the warm
    * passes after it are measured query by query. Each result's row count
    * is checked against the golden count from the DuckDB oracle. */
  final class Registry(o: Opts) extends Workload(o) {
    /** (query, module, golden rows) of the sampled queries. */
    val sample: IndexedSeq[(String, String, Long)] = Registry.load(o.registry)
      .filter(_._4).map(q => (q._1, q._2, q._3)).sortBy(_._1)
    private val dir = o.data.getAbsolutePath

    /** Whole passes, whatever `--seconds` says: one cold and two warm,
      * because a warm query is short (median about 0.2 s on a 4-core
      * host) and one sample of each reads noisy. */
    val WarmPasses = 2
    def more(k: Int): Boolean = k < (1 + WarmPasses) * sample.size
    override def coldOps: Int = sample.size
    override def measured(k: Int): Boolean = k >= sample.size
    /** Traced run: the listeners are attached on the last pass. The warm
      * pass before it runs about a fifth slower, the JIT still warming,
      * so it cannot give the tracing overhead. */
    override def traced(k: Int): Boolean = k >= WarmPasses * sample.size
    override def scope(k: Int): String = s"registry.${module(k)}"
    private def module(k: Int): String = sample(k % sample.size)._2

    def op(spark: SparkSession, k: Int, traced: Boolean): (Op, Option[TimedFetcher]) = {
      val (q, _, golden) = sample(k % sample.size)
      spark.catalog.clearCache()
      graft.Caches.release()
      val t0 = System.nanoTime()
      val res = try Right(graft.SparkEntry.queries(q)(spark, dir).count())
      catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val op = Op(k, q, wall, res.getOrElse(0L), traced, res.left.toOption)
      res.foreach(n => if (n != golden) op.wrong = Some(s"$n rows, golden $golden"))
      (op, None)
    }

    def check(spark: SparkSession, ops: Seq[Op]): Unit = ()

    def named(ops: Seq[Op], warm: Seq[Double]): Seq[(String, Any)] = Seq(
      "registry_pass_s" -> ops.take(coldOps).map(_.wall).sum,
      "registry_warm_pass_s" -> warm.sum / WarmPasses,
      "registry_queries" -> sample.size,
      "registry_query_s" -> mutable.LinkedHashMap(ops.groupBy(_.label).toSeq.sortBy(_._1)
        .map { case (q, xs) => q -> xs.map(_.wall) }: _*))

    def layerValues(p: Probe, ops: Seq[Op], ts: Seq[OpTrace],
                    extra: Map[String, Any]): Map[String, Double] = {
      // totals over the traced (last) pass
      val traced = ops.filter(_.traced)
      val modules = Registry.Modules.flatMap { m =>
        val a = p.layers.getOrElse(s"registry.$m", new Acc)
        Seq(s"registry.$m.s" -> traced.filter(op => module(op.k) == m).map(_.wall).sum,
          s"registry.$m.jobs" -> a.jobs.toDouble, s"registry.$m.tasks" -> a.tasks.toDouble,
          s"registry.$m.shuffle_bytes" -> a.shuffleBytes.toDouble, s"registry.$m.plan_s" -> a.planS)
      }
      modules.toMap ++ Map(
        "spark.plan_s" -> p.layers.values.map(_.planS).sum,
        "spark.task_wait_s" -> p.taskWaitS,
        "spark.gc_s" -> p.gcS,
        "trace.op_wall_s" -> traced.map(_.wall).sum,
        "bench.fail_ratio" -> Stats.failRatio(ops.size, ops.count(_.failed)))
    }
  }

  /** Every per-layer metric with its unit, in report order. Each
    * workload reports all of them, 0 where it does not run the layer. */
  val LayerNames: Seq[(String, String)] = Seq(
    "pipeline.fetch.s" -> "s", "pipeline.fetch.attempts" -> "count", "pipeline.fetch.yield" -> "ratio",
    "pipeline.ingest.s" -> "s", "pipeline.ingest.rows_out" -> "count",
    "pipeline.ingest.rows_rejected" -> "count", "pipeline.ingest.out_bytes" -> "B",
    "pipeline.ingest.plan_s" -> "s",
    "quality.gates.s" -> "s", "quality.gates.jobs" -> "count", "quality.gates.tasks" -> "count",
    "quality.gates.plan_s" -> "s",
    "pipeline.dim.s" -> "s", "pipeline.dim.shuffle_bytes" -> "B", "pipeline.dim.out_bytes" -> "B",
    "pipeline.dim.plan_s" -> "s",
    "sources.fct_write.s" -> "s", "sources.fct_write.files" -> "count",
    "sources.fct_write.out_bytes" -> "B", "sources.fct_write.plan_s" -> "s",
    "pipeline.driver.s" -> "s", "spark.plan_s" -> "s", "spark.task_wait_s" -> "s",
    "spark.gc_s" -> "s", "trace.op_wall_s" -> "s", "trace.overhead" -> "ratio",
    "pipeline.write_bytes_per_row" -> "B/row", "pipeline.history_violations" -> "count",
    "bench.fail_ratio" -> "ratio") ++
    Registry.Modules.flatMap(m => Seq(s"registry.$m.s" -> "s", s"registry.$m.jobs" -> "count",
      s"registry.$m.tasks" -> "count", s"registry.$m.shuffle_bytes" -> "B",
      s"registry.$m.plan_s" -> "s"))

  object Registry {
    val Modules: Seq[String] = Seq("relational", "dedup", "similarity", "text", "corpus",
      "graphs", "streaming", "multimodal", "sources", "quality", "functions")

    /** registry.tsv: query, module, golden row count, in-sample flag. */
    def load(f: File): IndexedSeq[(String, String, Long, Boolean)] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val c = l.split("\t")
        (c(0), c(1), c(2).toLong, c(3) == "1")
      }.toIndexedSeq
      finally src.close()
    }
  }

  // ------------------------------------------------------------- host

  private def readFile(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))) catch { case NonFatal(_) => "" }

  def memTotalKb(): Long = readFile("/proc/meminfo").linesIterator
    .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def loadavg(): String = readFile("/proc/loadavg").trim

  def epochSeconds(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  /** Memory the program keeps in use: heap left after a full collection
    * plus off-heap (metaspace, code cache), in MiB. Unlike the resident
    * set, it does not follow the collector's heap sizing. Called once,
    * after the timed loop, because a collection between ops slows the
    * next op. */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb(): Long = readFile("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** Minimal JSON writer for the result lines. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
