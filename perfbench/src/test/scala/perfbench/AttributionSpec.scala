package perfbench

import org.apache.spark.perfbench.Bus
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.WeatherPipeline

/** A 2-day `daily` run with the benchmark's listeners attached: every
  * action lands in a named layer and the layers account for each day's
  * wall time. */
class AttributionSpec extends AnyFunSuite {

  test("a 2-day daily run attributes every action to a pipeline layer") {
    val spark = graft.Sessions.build("2")
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("perfbench_attr").toFile
    try {
      val probe = new Probe
      Probe.attach(spark, probe)
      val walls = (0 until 2).map { k =>
        val r = Gen.dailyOp(4L, k)
        val f = new TimedFetcher(new Gen.SeededFetcher(r.obs))
        val before = probe.actionS
        val t0 = System.nanoTime()
        WeatherPipeline.runDaily(spark, f, r.cities, r.interval, r.now, out.getAbsolutePath,
          retries = Gen.Retries)
        val wall = (System.nanoTime() - t0) / 1e9
        Bus.drain(spark.sparkContext)
        assert(f.attempts == r.cities.map(r.attempts).sum)
        assert(probe.actionS - before + f.seconds <= wall, s"day $k: actions exceed wall time")
        (r, wall)
      }
      Probe.detach(spark, probe)
      val layers = probe.layers
      assert(layers.keySet.subsetOf(Set("pipeline.ingest", Probe.Gates, "pipeline.dim",
        "sources.fct_write", Probe.Driver)), layers.keySet)
      Seq("pipeline.ingest", "pipeline.dim", "sources.fct_write").foreach { l =>
        assert(layers(l).actions == 2, l)
        assert(layers(l).outBytes > 0 && layers(l).jobs >= 2, l)
      }
      assert(layers(Probe.Gates).actions >= 2 && layers(Probe.Gates).outBytes == 0)
      assert(layers("sources.fct_write").outRows == walls.map(_._1.expect.inRange).sum)
      assert(layers("sources.fct_write").files >= 2)
      assert(layers("pipeline.dim").shuffleBytes > 0)
      assert(layers.values.map(_.planS).sum > 0)
    } finally {
      spark.stop()
      graft.Fs.deleteRecursively(out)
    }
  }
}
