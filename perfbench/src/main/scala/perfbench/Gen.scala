package perfbench

import java.sql.Timestamp
import java.time.Instant

import graft.pipeline.WeatherFetcher

/** Seeded input generator. Everything the program under test receives
  * (the `daily` fetcher, the `backfill` landing files) is built here from
  * the seed alone, together with the row counts a correct pipeline must
  * produce from it. The same seed gives the same inputs.
  *
  * Outcome shares are fixed quotas shuffled per block, not independent
  * draws, so every seed carries the same mix of faults and runs of
  * different seeds do the same amount of work.
  */
object Gen {

  sealed trait Outcome
  /** Parsed, in the -50..60 plausibility range: a raw, dim and fct row. */
  case object Valid extends Outcome
  /** Parsed but implausible temperature: a raw row, filtered by staging. */
  case object OutOfRange extends Outcome
  /** The API's error envelope: routed out by ingest. */
  case object ApiError extends Outcome
  /** Truncated JSON: `from_json` gives a partial struct, so the payload
    * lands in raw without a temperature; staging drops it. */
  case object Malformed extends Outcome
  /** Every fetch attempt throws: the city is skipped. */
  case object Permanent extends Outcome

  /** One city's observation in one run of one interval. `transient` is
    * the number of fetch attempts that throw before one succeeds. */
  final case class Obs(city: String, country: String, outcome: Outcome,
                       transient: Int, temperature: Int, payload: String) {
    def raw: Boolean = outcome == Valid || outcome == OutOfRange
  }

  /** Counts a correct pipeline must produce for one batch. */
  final case class Expect(payloads: Int, raw: Int, inRange: Int) {
    def rejected: Int = payloads - raw
  }

  def expect(obs: Seq[Obs]): Expect = Expect(
    payloads = obs.count(_.outcome != Permanent),
    raw = obs.count(_.raw),
    inRange = obs.count(_.outcome == Valid))

  /** Seven cities a day, as many as the reference DAG fetches. */
  val Cities: Seq[(String, String)] = Seq(
    "London" -> "United Kingdom", "New York" -> "United States of America",
    "Paris" -> "France", "Tokyo" -> "Japan", "Sydney" -> "Australia",
    "Cairo" -> "Egypt", "Mumbai" -> "India")

  /** Fetch attempts per city: the reference's task-level retries. */
  val Retries = 2

  private val Descriptions = Array("Sunny", "Light Rain", "Partly cloudy",
    "Overcast", "Mist", "Heavy rain shower", "Clear")
  private val Dirs = Array("N", "NE", "E", "SE", "S", "SW", "W", "NW")

  private def rng(parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft((h ^ p) * 0xBF58476D1CE4E5B9L, 29) * 0x94D049BB133111EBL))

  private def shuffled[A](xs: Seq[A], r: java.util.SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** `n` outcomes with the fixed shares: 5% each of out-of-range, API
    * error and malformed (and `permanentShare` of permanent failures),
    * the rest valid; shuffled by `r`. */
  def outcomes(n: Int, permanentShare: Double, r: java.util.SplittableRandom): IndexedSeq[Outcome] = {
    def q(share: Double) = math.round(n * share).toInt
    val fixed = Seq.fill(q(0.05))(OutOfRange) ++ Seq.fill(q(0.05))(ApiError) ++
      Seq.fill(q(0.05))(Malformed) ++ Seq.fill(q(permanentShare))(Permanent)
    shuffled(fixed ++ Seq.fill(n - fixed.size)(Valid), r)
  }

  /** Zero-padded decimal of a non-negative `n`, as `%0wd` gives it
    * (without the cost of a format call per row). */
  private def pad(n: Int, w: Int): String = {
    val s = n.toString
    if (s.length >= w) s else "0" * (w - s.length) + s
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Weatherstack current-weather payload text for one outcome. */
  def payload(city: String, country: String, outcome: Outcome, temperature: Int,
              r: java.util.SplittableRandom): String = outcome match {
    case ApiError =>
      """{"success":false,"error":{"code":615,"type":"request_failed","info":"Your API request failed."}}"""
    case Malformed =>
      s"""{"location":{"name":"${esc(city)}","country":"${esc(country)}"},"current":{"temperature":"""
    case _ =>
      val h = 1 + r.nextInt(12)
      val m = r.nextInt(60)
      val ampm = if (r.nextBoolean()) "AM" else "PM"
      s"""{"request":{"type":"City","query":"${esc(city)}, ${esc(country)}"},""" +
        s""""location":{"name":"${esc(city)}","country":"${esc(country)}"},""" +
        s""""current":{"observation_time":"${pad(h, 2)}:${pad(m, 2)} $ampm",""" +
        s""""temperature":$temperature,""" +
        s""""weather_descriptions":["${Descriptions(r.nextInt(Descriptions.length))}"],""" +
        s""""humidity":${r.nextInt(101)},"wind_speed":${r.nextInt(60)},""" +
        s""""wind_dir":"${Dirs(r.nextInt(Dirs.length))}","pressure":${980 + r.nextInt(60)},""" +
        s""""visibility":${r.nextInt(17)},"uv_index":${r.nextInt(12)}}}"""
  }

  private def temperature(outcome: Outcome, r: java.util.SplittableRandom): Int = outcome match {
    case OutOfRange => if (r.nextBoolean()) 61 + r.nextInt(15) else -51 - r.nextInt(15)
    case _ => -50 + r.nextInt(111)
  }

  private def obs(city: String, country: String, outcome: Outcome, transient: Int,
                  r: java.util.SplittableRandom): Obs = {
    val t = temperature(outcome, r)
    Obs(city, country, outcome, transient, t, payload(city, country, outcome, t, r))
  }

  private def ts(i: Instant): Timestamp = Timestamp.from(i)

  // ------------------------------------------------------------ daily

  /** One `runDaily` call: run `run` (0 = first, 1.. = re-runs) of the
    * interval `day`. */
  final case class DayRun(op: Int, day: Int, run: Int, interval: Timestamp,
                          now: Timestamp, obs: Seq[Obs]) {
    def expect: Expect = Gen.expect(obs)
    def cities: Seq[String] = obs.map(_.city)
    /** Fetch attempts per city the reference loop must make. */
    def attempts(city: String): Int = {
      val o = obs.find(_.city == city).get
      if (o.outcome == Permanent) Retries + 1 else o.transient + 1
    }
  }

  /** Days per outcome block: 20 days × 7 cities = 140 city-days, which
    * the 5% shares divide exactly. */
  val DailyBlock = 20
  /** Every `RerunEvery`-th op re-runs one of the last `RerunWindow` days,
    * as an Airflow retry or backfill does. */
  val RerunEvery = 5
  val RerunWindow = 3
  val DailyStart: Instant = Instant.parse("2026-01-01T00:00:00Z")

  /** Outcome and transient-failure count of one city-day. 15% of the
    * reachable city-days fail once or twice before succeeding, so the
    * retry loop is exercised; none exceeds the retry budget. */
  def dailySlot(seed: Long, day: Int, city: Int): (Outcome, Int) = {
    val block = day / DailyBlock
    val n = DailyBlock * Cities.size
    val outs = outcomes(n, 0.05, rng(seed, 1, block))
    val flaky = shuffled(0 until n, rng(seed, 2, block)).filter(i => outs(i) != Permanent)
      .take(math.round(n * 0.15).toInt).toSet
    val slot = (day % DailyBlock) * Cities.size + city
    (outs(slot), if (flaky(slot)) 1 + rng(seed, 3, day, city).nextInt(Retries) else 0)
  }

  private def isRerun(k: Int): Boolean = k % RerunEvery == RerunEvery - 1

  private def dailyDay(seed: Long, k: Int): Int = {
    val newDays = k - k / RerunEvery // first runs before op k
    if (isRerun(k)) newDays - 1 - rng(seed, 4, k).nextInt(math.min(RerunWindow, newDays))
    else newDays
  }

  /** The op sequence of the `daily` workload; unbounded, op `k` is a pure
    * function of (seed, k). */
  def dailyOp(seed: Long, k: Int): DayRun = {
    val day = dailyDay(seed, k)
    // run index: how many earlier ops ran this day
    val run = (0 until k).count(j => dailyDay(seed, j) == day)
    val start = DailyStart.plusSeconds(86400L * day)
    val obsSeq = Cities.zipWithIndex.map { case ((city, country), ci) =>
      val (outcome, transient) = dailySlot(seed, day, ci)
      obs(city, country, outcome, transient, rng(seed, 5, day, ci, run))
    }
    // a re-run extracts later on the same date, so extraction_date (the
    // fct partition) is the interval's date in every run
    DayRun(k, day, run, ts(start), ts(start.plusSeconds(5400L + 7200L * run)), obsSeq)
  }

  /** Deterministic fetcher over one op's observations: the first
    * `transient` attempts of a city throw, permanent failures always
    * throw, otherwise the canned payload comes back. */
  final class SeededFetcher(obs: Seq[Obs]) extends WeatherFetcher {
    private val byCity = obs.map(o => o.city -> o).toMap
    private val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    override def fetch(city: String): String = {
      val o = byCity.getOrElse(city, throw new RuntimeException(s"unknown city $city"))
      calls(city) += 1
      if (o.outcome == Permanent) throw new RuntimeException(s"HTTP 404 for $city")
      if (calls(city) <= o.transient) throw new RuntimeException(s"HTTP 503 for $city")
      o.payload
    }
  }

  // ------------------------------------------------------------ backfill

  final case class BackfillDay(day: Int, interval: Timestamp, now: Timestamp,
                               expect: Expect)

  val BackfillStart: Instant = Instant.parse("2025-06-01T00:00:00Z")

  private def backfillInterval(day: Int): (Timestamp, Timestamp) = {
    val s = BackfillStart.plusSeconds(86400L * day)
    (ts(s), ts(s.plusSeconds(7200L)))
  }

  /** Observations of one backfill day: `cities` distinct cities, each
    * observed once, with the fixed outcome shares (no fetch, so no
    * permanent failures). */
  def backfillObs(seed: Long, day: Int, cities: Int): Seq[Obs] = {
    val outs = outcomes(cities, 0.0, rng(seed, 6, day))
    val r = rng(seed, 7, day)
    (0 until cities).map { i =>
      obs(s"City ${pad(i, 6)}", s"Country ${i % 97}", outs(i), 0, r)
    }
  }

  /** Writes one JSON-lines landing file per day, `{"city", "raw_json"}`
    * per line, under `dir/day=NNN/`; returns the days with their expected
    * counts. */
  def writeBackfill(seed: Long, days: Int, cities: Int, dir: java.io.File): Seq[BackfillDay] =
    (0 until days).map { d =>
      val obsSeq = backfillObs(seed, d, cities)
      val dayDir = new java.io.File(dir, f"day=$d%03d")
      dayDir.mkdirs()
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(new java.io.File(dayDir, "part-00000.json")),
        java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
      try obsSeq.foreach { o =>
        w.write(s"""{"city":"${esc(o.city)}","raw_json":"${esc(o.payload)}"}""")
        w.write('\n')
      } finally w.close()
      val (interval, now) = backfillInterval(d)
      BackfillDay(d, interval, now, expect(obsSeq))
    }

  def backfillDir(dir: java.io.File, day: Int): String =
    new java.io.File(dir, f"day=$day%03d").getAbsolutePath
}
