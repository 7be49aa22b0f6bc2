package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  import Gen._

  test("the same seed gives the same inputs, another seed other inputs") {
    val a = (0 until 12).map(dailyOp(7L, _))
    assert(a == (0 until 12).map(dailyOp(7L, _)))
    assert(a != (0 until 12).map(dailyOp(8L, _)))
    assert(backfillObs(7L, 0, 50) == backfillObs(7L, 0, 50))
  }

  test("a daily outcome block carries the fixed shares exactly") {
    val obs = (0 until DailyBlock).flatMap(d => Cities.indices.map(c => dailySlot(3L, d, c)))
    val n = DailyBlock * Cities.size
    assert(obs.size == n)
    Seq(OutOfRange, ApiError, Malformed, Permanent).foreach(o => assert(obs.count(_._1 == o) == n / 20, o))
    assert(obs.count(_._2 > 0) == math.round(n * 0.15))
    assert(obs.filter(_._1 == Permanent).forall(_._2 == 0))
    assert(obs.forall(_._2 <= Retries))
  }

  test("every fifth op re-runs one of the three latest days, later on the same date") {
    val ops = (0 until 15).map(dailyOp(5L, _))
    ops.zipWithIndex.foreach { case (r, k) =>
      if (k % RerunEvery == RerunEvery - 1) {
        val latest = ops.take(k).map(_.day).max
        assert(r.day <= latest && r.day > latest - RerunWindow, s"op $k")
        assert(r.run >= 1)
        val first = ops.find(_.day == r.day).get
        assert(r.now.after(first.now))
        assert(r.now.toInstant.toString.take(10) == first.now.toInstant.toString.take(10))
      } else assert(r.run == 0 && r.day == ops.take(k).count(_.run == 0))
    }
  }

  test("expected counts follow the outcomes of a tiny day") {
    val r = dailyOp(1L, 0)
    val e = r.expect
    assert(e.payloads == r.obs.count(_.outcome != Permanent))
    assert(e.raw == r.obs.count(o => o.outcome == Valid || o.outcome == OutOfRange))
    assert(e.inRange == r.obs.count(_.outcome == Valid))
    assert(e.rejected == r.obs.count(o => o.outcome == ApiError || o.outcome == Malformed))
    r.obs.filter(_.outcome == Valid).foreach(o => assert(o.temperature >= -50 && o.temperature <= 60))
    r.obs.filter(_.outcome == OutOfRange).foreach(o => assert(o.temperature < -50 || o.temperature > 60))
  }

  test("the seeded fetcher fails transiently, then answers; permanent failures always throw") {
    val day = (0 until 40).map(dailyOp(2L, _)).find(r =>
      r.obs.exists(_.transient > 0) && r.obs.exists(_.outcome == Permanent)).get
    val f = new SeededFetcher(day.obs)
    day.obs.foreach { o =>
      (1 to o.transient).foreach(_ => intercept[RuntimeException](f.fetch(o.city)))
      if (o.outcome == Permanent) (0 to Retries).foreach(_ => intercept[RuntimeException](f.fetch(o.city)))
      else assert(f.fetch(o.city) == o.payload)
      assert(day.attempts(o.city) == (if (o.outcome == Permanent) Retries + 1 else o.transient + 1))
    }
  }

  test("backfill days land one JSON line per city with the fixed shares") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench_gen").toFile
    try {
      val days = writeBackfill(9L, 2, 200, dir)
      assert(days.map(_.expect) == Seq.fill(2)(Expect(payloads = 200, raw = 180, inRange = 170)))
      val lines = scala.io.Source.fromFile(new java.io.File(backfillDir(dir, 1), "part-00000.json")).getLines().toSeq
      assert(lines.size == 200)
      assert(lines.forall(l => l.startsWith("{\"city\":\"City ") && l.contains("\"raw_json\":")))
    } finally graft.Fs.deleteRecursively(dir)
  }
}
