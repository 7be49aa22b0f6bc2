package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class IOSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("readJsonPermissive routes malformed records instead of failing") {
    withTempDir("io-json") { dir =>
      Seq("""{"id": 1, "name": "ok"}""", """{"id": 2 "name": broken""", """{"id": 3, "name": "also ok"}""")
        .toDF("value").coalesce(1).write.mode("overwrite").text(s"$dir/in")
      val (good, bad) = IO.routeErrors(IO.readJsonPermissive(spark, schema, s"$dir/in"))
      assert(good.orderBy("id").select($"id").as[Long].collect().toSeq == Seq(1L, 3L))
      assert(bad.count() == 1)
    }
  }

  test("writePartitioned overwrites only the partitions present (dynamic)") {
    withTempDir("io-part") { tmp =>
      val dir = tmp + "/t"
      IO.writePartitioned(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), Seq("p"), dir)
      // re-write touching only p=b must leave p=a intact
      IO.writePartitioned(Seq((9L, "b")).toDF("id", "p"), Seq("p"), dir)
      val out = spark.read.parquet(dir).orderBy("id").as[(Long, String)].collect()
      assert(out.toSeq == Seq((1L, "a"), (9L, "b")))
    }
  }

  test("partition predicate on a partitioned layout prunes the scan to matching directories") {
    withTempDir("io-prune") { tmp =>
      val dir = tmp + "/t"
      val df = (1 to 40).map(i => (i.toLong, 1990 + i % 4)).toDF("id", "y")
      IO.writePartitioned(df, Seq("y"), dir)
      val q = spark.read.parquet(dir).filter($"y" === 1991)
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec in plan"))
      // the predicate must land in PartitionFilters (not a post-scan data
      // filter), and the file listing must shrink to the one directory
      assert(scan.partitionFilters.exists(_.toString.contains("1991")),
        s"partition filter missing: ${scan.partitionFilters}")
      assert(scan.metadata("PartitionFilters").contains("1991"))
      val selected = scan.selectedPartitions.partitionCount
      assert(selected == 1, s"expected 1 pruned partition, scanned $selected")
      assert(q.count() == 10)
    }
  }

  test("dynamic partition pruning: a broadcast dim filter prunes the fact scan at runtime") {
    withTempDir("io-dpp") { root =>
      val fact = (1 to 40).map(i => (i.toLong, 1990 + i % 4)).toDF("id", "y")
      IO.writePartitioned(fact, Seq("y"), s"$root/fact")
      // the dim must be FILE-backed: a local Seq folds the filter into the
      // LocalRelation before the PartitionPruning rule looks for a
      // selective predicate on the build side
      Seq((1991, "keep"), (1905, "dead")).toDF("yy", "tag")
        .write.parquet(s"$root/dim")
      // AQE off just for the plan inspection — DPP is independent of it,
      // and the adaptive wrapper hides the scan behind leaf query stages
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = spark.read.parquet(s"$root/fact")
          .join(spark.read.parquet(s"$root/dim").filter($"tag" === "keep"),
            $"y" === $"yy")
        // execute THIS QueryExecution (count() would plan a separate one)
        // so the scan metrics fill in
        assert(q.collect().length == 10)
        val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.metadata("Location").contains("fact") => s
        }.getOrElse(fail(s"no fact FileSourceScanExec:\n${q.queryExecution.executedPlan}"))
        // the fact scan must carry a DPP subquery filter on the partition
        // column (pruned at runtime from the broadcast dim), and the
        // post-execution metrics must show only 1 of 4 partitions read
        assert(scan.partitionFilters.mkString.contains("dynamicpruning"),
          s"no DPP filter on the fact scan: ${scan.partitionFilters}")
        val pruned = scan.metrics.get("numPartitions").map(_.value)
        assert(pruned.contains(1L), s"expected 1 partition scanned, metrics: ${
          scan.metrics.view.mapValues(_.value).toMap}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("runtime bloom filter: a selective dim filter injects might_contain on the fact side") {
    withTempDir("io-bloom") { root =>
      (1 to 5000).map(i => (i.toLong, s"p${i % 97}")).toDF("k", "payload")
        .write.parquet(s"$root/fact")
      (1 to 500).map(i => (i.toLong, i % 5)).toDF("dk", "grp")
        .write.parquet(s"$root/dim")
      // At 100 TB this is the shuffle-volume killer for selective shuffled
      // joins: the small side's filtered keys compress into a bloom filter
      // evaluated INSIDE the fact scan stage, so non-candidate fact rows
      // never enter the exchange. Thresholds here only shrink the
      // qualifying sizes to test scale; broadcast is disabled because a
      // broadcast join already prunes at the hash table and needs no filter.
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val fact = spark.read.parquet(s"$root/fact")
        val dim = spark.read.parquet(s"$root/dim").filter($"grp" === 0)
        val q = fact.join(dim, $"k" === $"dk")
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.toLowerCase.contains("might_contain"),
          s"no bloom runtime filter in the executed plan:\n$plan")
        // result transparency: the filter is advisory, the join is exact
        assert(q.count() == 100) // dim keeps 5,10,...,500 — all present in fact
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("compact rewrites a fragmented directory into size-targeted files, rows intact") {
    withTempDir("io-compact") { root =>
      val df = (1 to 10000).map(i => (i.toLong, s"payload_$i")).toDF("k", "v")
      df.repartition(32).write.parquet(s"$root/frag")
      def parquetFiles(p: String): Int =
        new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
      assert(parquetFiles(s"$root/frag") == 32)
      val fragBytes = new java.io.File(s"$root/frag").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      // target = half the data -> exactly 2 output files, whether the input
      // is named by a plain path or by a file: URI
      val n = IO.compact(spark, s"$root/frag", s"$root/out", (fragBytes + 1) / 2)
      assert(n == 2 && parquetFiles(s"$root/out") == 2)
      val fragUri = new java.io.File(s"$root/frag").toURI.toString
      assert(IO.compact(spark, fragUri, s"$root/out_uri", (fragBytes + 1) / 2) == n)
      assert(parquetFiles(s"$root/out_uri") == n)
      val back = spark.read.parquet(s"$root/out").as[(Long, String)].collect().toSeq.sorted
      assert(back == (1 to 10000).map(i => (i.toLong, s"payload_$i")))
      // a target larger than the directory -> a single file
      assert(IO.compact(spark, s"$root/frag", s"$root/out1", fragBytes * 10) == 1)
      assert(parquetFiles(s"$root/out1") == 1)
    }
  }

  test("writeBucketed produces a bucketed table whose join needs no exchange on the key") {
    spark.sql("DROP TABLE IF EXISTS bucketed_orders")
    // the managed location may survive a previous JVM whose in-memory
    // catalog is gone — remove it so CTAS doesn't refuse
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, "bucketed_orders")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    IO.writeBucketed(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), "bucketed_orders", Seq("k"), 4)
    // disable auto-broadcast so the planner must consider the shuffle it
    // would otherwise need — bucketing has to remove it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("bucketed_orders")
      val joined = t.as("a").join(t.as("b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"bucketed self-join should not shuffle:\n$plan")
      assert(joined.count() == 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mortonZ interleaves bits (known values) and is monotone on quadrants") {
    val out = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 5))
      .toDF("a", "b")
      .select(IO.mortonZ($"a", $"b", 4).as("z")).as[Int].collect()
    // (3,5) = a bits 011 -> positions 0,2 ; b bits 101 -> positions 1,5
    assert(out.toSeq == Seq(0, 1, 2, 3, 1 + 4 + 2 + 32))
  }

  test("writeZOrdered: a second-dimension filter row-group-skips most of the layout") {
    withTempDir("io-zorder") { root =>
      val n = 1 << 14 // 128 x 128 grid
      val df = spark.range(n).select(
        (col("id") % 128).cast("int").as("x"),
        (col("id") / 128).cast("int").as("y"),
        col("id"))
      df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
        .write.parquet(s"$root/linear")
      IO.writeZOrdered(df, "x", "y", bits = 7, nFiles = 16, s"$root/z")
      def rowsScanned(path: String): Long = {
        val q = spark.read.parquet(path).filter($"y" === 5)
        assert(q.count() == 128) // both layouts return the same result
        q.collect()
        val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.getOrElse(fail("no scan"))
        scan.metrics("numOutputRows").value
      }
      val linear = rowsScanned(s"$root/linear")
      val z = rowsScanned(s"$root/z")
      // x-sorted files all span the full y range -> no row group skips; the
      // z-ordered files cover y-rectangles, so most skip via footer stats
      info(s"rows out of scan: linear=$linear z=$z")
      assert(linear == n.toLong, "x-sorted layout should skip nothing for a y filter")
      assert(z * 3 <= linear, s"z-order should skip at least 2/3 of the rows (got $z of $linear)")
    }
  }

  test("readParquet pins the schema and prunes columns") {
    val df = IO.readParquet(spark,
      StructType(Seq(StructField("l_orderkey", LongType))),
      "/root/testdata/sf0.001/lineitem.parquet")
    assert(df.schema.fieldNames.toSeq == Seq("l_orderkey"))
    assert(df.count() == 6000)
  }

  test("mergeSchema reads a schema-drifted landing directory (old files null-extend)") {
    // the 100 TB lake reality: producers add columns over time and old
    // files stay — mergeSchema unions the footers, absent columns read NULL
    withTempDir("drift") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .write.mode("append").parquet(dir)
      Seq((3L, "c", 30L)).toDF("id", "name", "score")
        .write.mode("append").parquet(dir)
      val df = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(df.schema.fieldNames.sorted.toSeq == Seq("id", "name", "score"))
      val rows = df.orderBy("id")
        .select($"id", $"name", $"score").as[(Long, String, Option[Long])]
        .collect().toSeq
      assert(rows == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))
    }
  }
}
