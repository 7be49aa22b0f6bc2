package graft.similarity

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 0.0f))   // zero vector — must never rank
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine desc and excludes zero vectors") {
    val out = Vectors.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 4)
      .orderBy("rank").select($"match_id", $"cosine").as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))      // 4 (zero) excluded entirely
    assert(out(0)._2 > 0.99)                            // ~parallel
    assert(math.abs(out(1)._2) < 1e-9)                  // orthogonal
    assert(out(2)._2 == -1.0)                           // antiparallel
  }

  // 1-D points 0, 1, 2, 3 (ids 1..4): seed = id 1 (smallest id, dist 0);
  // round 1 farthest = id 4 at (3e6)² = 9e12; round 2 min-dists to
  // {0, 3} are id 2 → 1e12, id 3 → min(4e12, 1e12) = 1e12 — tie → the
  // smaller id 2 wins at 1e12.
  test("kcenterSeeds: deterministic farthest-point rounds, exact integer radii, id tie-break") {
    val pts = Seq(
      (1L, Array(0.0f)), (2L, Array(1.0f)), (3L, Array(2.0f)), (4L, Array(3.0f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.kcenterSeeds(pts, "vec_id", "embedding", k = 3)
      .orderBy($"seed_idx").as[(Int, Long, Long)].collect().toSeq
    graft.Caches.release()
    assert(out == Seq(
      (0, 1L, 0L),
      (1, 4L, 9000000000000L),
      (2, 2L, 1000000000000L)))
  }

  test("kcenterSeeds: null embeddings are excluded, k=1 is just the seed") {
    val pts = Seq((7L, Array(1.0f, 2.0f)), (3L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val out = Vectors.kcenterSeeds(pts, "vec_id", "embedding", k = 1)
      .as[(Int, Long, Long)].collect().toSeq
    graft.Caches.release()
    assert(out == Seq((0, 7L, 0L)))
  }

  test("zero-magnitude query yields no results instead of NaN ranks") {
    val out = Vectors.bruteForceTopK(vecs.filter($"vec_id" === 4), vecs, "vec_id", "embedding", 3)
    assert(out.count() == 0)
  }

  test("lshTopK only scores same-bucket candidates") {
    val out = Vectors.lshTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding",
      k = 4, bits = 3)
      .select($"match_id").as[Long].collect()
    // bucket of id0 = signs(1,0,0) = "111"; id1 "111", id2 "111", id4 "111"
    // (>=0 counts as positive) but id3 "011" differs → excluded; id4 zero-norm → excluded
    assert(out.toSet == Set(1L, 2L))
  }

  test("knnGraph links each vector to its bucket-mates only, ranked by cosine") {
    val out = Vectors.knnGraph(vecs, "vec_id", "embedding", k = 2, bits = 3)
      .orderBy($"src_id", $"rank")
      .select($"src_id", $"dst_id", $"rank").as[(Long, Long, Int)].collect()
    // bucket "111" holds {0, 1, 2} (id3 differs on the first sign bit,
    // id4 is the zero vector and must be excluded entirely)
    assert(out.toSeq == Seq(
      (0L, 1L, 1), (0L, 2L, 2),   // 0: nearest is 1 (~parallel), then 2
      (1L, 0L, 1), (1L, 2L, 2),
      (2L, 1L, 1), (2L, 0L, 2)))  // 2·(0.9,.1,0) cos > 2·(1,0,0) cos? see below
    // for src 2 = (0,1,0): cos(2,1)=0.1/|(0.9,0.1,0)| ≈ 0.110 > cos(2,0)=0
  }

  test("nearDupPairs finds high-cosine pairs without full cross product") {
    val pairs = Vectors.nearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9, bits = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("bitsFor holds bucket occupancy ~constant: floor at gate scale, +ceil(log2 N) per xN") {
    def embOf(n: Long) = spark.range(n).select($"id".as("vec_id"),
      array((0 until 8).map(j => (pmod(hash($"id" * 31 + j), lit(1000)) / 500.0 - 1.0)
        .cast("float")): _*).as("embedding"))
    try {
      // the gate/bench corpora (500 at sf0.01, 2000 at sf0.1) must both
      // resolve to the long-standing 4-bit behavior — this pins the
      // oracle mirrors (registry.SharedSql.bucket4Expr) to the engine resolution
      assert(Vectors.bitsFor(embOf(500L)) == 4)
      assert(Vectors.bitsFor(embOf(2000L)) == 4)
      // past the floor the width tracks ceil(log2 n) - 7, so a xN corpus
      // resolves to the base width + ceil(log2 N) exactly
      assert(Vectors.bitsFor(embOf(20000L)) == 8,   "x10 of sf0.1 -> 4 + ceil(log2 10)")
      assert(Vectors.bitsForCount(200000L) == 11,   "x100 -> 4 + ceil(log2 100)")
      // average occupancy n / 2^bits stays <= 2^7 = 128 once past the
      // floor — the linear-candidates invariant (sum|b|^2 ~ 128 n)
      for (n <- Seq(5000L, 50000L, 500000L, 5000000L, 1L << 40)) {
        val b = Vectors.bitsForCount(n)
        val occ = n.toDouble / (1L << b)
        assert(b == 24 || (occ <= 128.0 && occ > 32.0),
          s"n=$n bits=$b occupancy=$occ outside (32, 128]")
      }
      // the cap: even a planet-scale corpus cannot explode the
      // multi-probe expansion or the key space
      assert(Vectors.bitsForCount(4000000000L) == 24)
      // explicit widths pass through untouched (the override)
      val out = Vectors.knnGraph(vecs, "vec_id", "embedding", k = 2, bits = 3)
      assert(out.columns.toSeq == Seq("src_id", "dst_id", "cosine", "rank"))
    } finally graft.Caches.release()
  }

  test("ivfTopK probes only nearest centroid lists and never returns self or zero vectors") {
    val corpus = (0L until 40L).map { i =>
      val angle = (i % 8).toDouble / 8 * 2 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, 0f))
    }.toDF("vec_id", "embedding")
    val out = Vectors.ivfTopK(corpus.filter($"vec_id" === 0), corpus, "vec_id", "embedding",
      k = 3, nCentroids = 8, nProbe = 2)
      .orderBy("rank").select($"match_id", $"cosine").as[(Long, Double)].collect()
    assert(out.length == 3)
    assert(!out.map(_._1).contains(0L))
    // top matches must be same-direction vectors (cosine ~= 1)
    assert(out.head._2 > 0.99)
  }

  test("ivfLists assignment is narrow: no shuffle, no window over the corpus") {
    val corpus = (0L until 40L).map { i =>
      val angle = (i % 8).toDouble / 8 * 2 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, 0f))
    }.toDF("vec_id", "embedding")
    val lists = Vectors.ivfLists(corpus, "vec_id", "embedding", nCentroids = 8)
    lists.collect() // materialize so the executed plan is final
    val plan = lists.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange"), s"unexpected shuffle in IVF build:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in IVF build:\n$plan")
    // every non-zero vector lands in exactly one list, ties to lowest id
    assert(lists.count() == 40)
    val own = lists.filter($"c_id" < 8).select($"c_id", $"cent_id")
      .as[(Long, Long)].collect().toMap
    assert(own.forall { case (id, cent) => id == cent }) // centroids self-assign
  }

  test("ivfLists with an empty centroid set emits no rows (not NULL cent_ids)") {
    // All id < nCentroids vectors are zero-norm, so the centroid array is
    // empty and array_max over it is NULL for EVERY corpus vector — those
    // rows must be dropped, not surfaced with cent_id NULL.
    val corpus = Seq(
      (0L, Array(0f, 0f, 0f)),     // would-be centroid, zero-norm → excluded
      (1L, Array(0f, 0f, 0f)),     // would-be centroid, zero-norm → excluded
      (5L, Array(1f, 0f, 0f)),
      (6L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val lists = Vectors.ivfLists(corpus, "vec_id", "embedding", nCentroids = 2)
    assert(lists.count() == 0)
    assert(lists.filter($"cent_id".isNull).count() == 0)
  }

  test("fixed-point dot is exact and order-independent") {
    val d = Seq((Array(0.5f, 0.25f), Array(0.5f, 0.25f))).toDF("a", "b")
      .select(Vectors.dotFp(Vectors.fixedPoint($"a"), Vectors.fixedPoint($"b")).as("d"))
      .as[Long].collect()
    assert(d.head == 500000L * 500000L + 250000L * 250000L)
  }

  test("trainCentroids: deterministic k-means, trained recall@k >= seeded (within tolerance)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    // deterministic: two independent trainings produce identical centroids
    val c1 = Vectors.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 5)
      .orderBy("cent_id").as[(Long, Seq[Long], Long)].collect().toSeq
    val c2 = Vectors.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 5)
      .orderBy("cent_id").as[(Long, Seq[Long], Long)].collect().toSeq
    assert(c1 == c2)
    assert(c1.size == 16)
    // iters = 0 reproduces the id-seeded quantizer's lists exactly
    val seeded0 = Vectors.ivfLists(emb, "vec_id", "embedding", nCentroids = 16)
      .select($"cent_id", $"c_id").as[(Long, Long)].collect().toMap
    // (cent ids are renumbered 0..k-1 in id order; seeded uses raw ids —
    // compare by grouping structure instead of labels)
    val init = Vectors.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 0)
    val lists0 = Vectors.ivfListsWith(emb, "vec_id", "embedding", init)
      .select($"cent_id", $"c_id").as[(Long, Long)].collect().toMap
    assert(lists0.keySet == seeded0.keySet)
    def partitionOf(m: Map[Long, Long]) =
      m.groupBy(_._2).values.map(_.keySet).toSet
    assert(partitionOf(lists0) == partitionOf(seeded0))
    // on the (uniform random) embeddings table, training must at least
    // hold recall in the same band as the seeded quantizer
    val trained = Vectors.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 5)
    val rTrained = recallOf(queries, emb,
      Vectors.ivfTopKWith(queries, emb, "vec_id", "embedding", k = 10, nProbe = 4, trained))
    val rSeeded = recallOf(queries, emb,
      Vectors.ivfTopK(queries, emb, "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4))
    info(f"recall@10 trained=$rTrained%.3f seeded=$rSeeded%.3f")
    assert(rTrained >= rSeeded - 0.1,
      f"trained recall $rTrained%.3f fell far below seeded $rSeeded%.3f")
  }

  /** Mean recall@k of `topk` against brute-force ground truth. */
  private def recallOf(queries: org.apache.spark.sql.DataFrame,
                       corpus: org.apache.spark.sql.DataFrame,
                       topk: org.apache.spark.sql.DataFrame): Double = {
    val truth = Vectors.bruteForceTopK(queries, corpus, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = topk.select($"query_id", $"match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val per = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    per.sum / per.size
  }

  test("trainCentroids recovers cluster structure a degenerate seed misses") {
    // 8 well-separated direction clusters in 8-dim; ids ordered so the
    // first k ids ALL sit in cluster 0 — the id-seeded quantizer then
    // puts every centroid in one cluster (the realistic failure mode of
    // seeding from head-of-corpus ids), while k-means must migrate
    // centroids toward the true cluster directions. Deterministic data +
    // deterministic algorithm -> a stable strict comparison.
    val pts = (0 until 240).map { i =>
      val cluster = i / 30                     // ids 0..29 all cluster 0
      val jitterDim = (cluster + 1 + i % 7) % 8
      val v = Array.fill(8)(0f)
      v(cluster) = 1f
      v(jitterDim) = v(jitterDim) + 0.15f * (1 + i % 3)
      (i.toLong, v)
    }
    val corpus = pts.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 30 === 7) // one probe per cluster
    val trained = Vectors.trainCentroids(corpus, "vec_id", "embedding", k = 8, iters = 8)
    val rTrained = recallOf(queries, corpus,
      Vectors.ivfTopKWith(queries, corpus, "vec_id", "embedding", k = 10, nProbe = 2, trained))
    val rSeeded = recallOf(queries, corpus,
      Vectors.ivfTopK(queries, corpus, "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = 2))
    info(f"clustered corpus recall@10 trained=$rTrained%.3f seeded=$rSeeded%.3f")
    assert(rTrained > rSeeded,
      f"training should beat the degenerate seed: trained=$rTrained%.3f seeded=$rSeeded%.3f")
    assert(rTrained >= 0.9, f"trained recall too low: $rTrained%.3f")
  }

  test("multiProbeBuckets emits the own bucket plus each Hamming-1 neighbor") {
    val df = Seq((0L, Array(1f, -1f, 1f))).toDF("vec_id", "embedding")
    val got = df.select(Vectors.multiProbeBuckets($"embedding", 3).as("b"))
      .as[Seq[String]].collect().head
    assert(got == Seq("101", "001", "111", "100"))
  }

  test("multi-probe finds the hyperplane-straddling neighbor single-bucket misses") {
    // query sits just ABOVE the first hyperplane, its true nearest just
    // BELOW: different sign buckets, so single-bucket LSH cannot return
    // it — the Hamming-1 probe of the flipped first bit must
    val corpus = Seq(
      (0L, Array(0.05f, 1f, 1f)),    // query
      (1L, Array(-0.05f, 1f, 1f)),   // nearest, across the hyperplane
      (2L, Array(0.9f, 1f, 1f)),     // same bucket as query, less similar
      (3L, Array(-1f, -1f, -1f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 0)
    val single = Vectors.lshTopK(queries, corpus, "vec_id", "embedding", k = 2, bits = 3)
      .select($"match_id").as[Long].collect().toSet
    val multi = Vectors.lshTopKMultiProbe(queries, corpus, "vec_id", "embedding", k = 2, bits = 3)
      .orderBy("rank").select($"match_id").as[Long].collect().toSeq
    assert(!single.contains(1L))
    assert(multi == Seq(1L, 2L)) // found across the boundary, ranked first
  }

  test("multiProbeBuckets radius generalization: r=1 unchanged, r=2 is the exact Hamming ball") {
    val df = Seq((0L, Array(1f, -1f, 1f))).toDF("vec_id", "embedding")
    def keys(r: Int): Seq[String] =
      df.select(Vectors.multiProbeBuckets($"embedding", 3, r).as("b"))
        .as[Seq[String]].collect().head
    // radius 1 == the historical 2-arg behavior, order included
    assert(keys(1) == Seq("101", "001", "111", "100"))
    // radius 2 = C(3,0)+C(3,1)+C(3,2) = 7 DISTINCT keys, exactly the
    // Hamming-≤2 ball around 101
    val r2 = keys(2)
    assert(r2.size == 7 && r2.distinct.size == 7)
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(r2.toSet == (0 until 8).map(i =>
      Integer.toBinaryString(8 | i).substring(1)).filter(ham(_, "101") <= 2).toSet)
    // radius 0 = the single bucket; the guard refuses radius 4
    assert(keys(0) == Seq("101"))
    intercept[IllegalArgumentException] {
      df.select(Vectors.multiProbeBuckets($"embedding", 3, 4)).collect()
    }
    // and the retriever's recall is monotone in radius on real data
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val r1 = recallOf(queries, emb,
      Vectors.lshTopKMultiProbe(queries, emb, "vec_id", "embedding", k = 10, bits = 4))
    val rr2 = recallOf(queries, emb,
      Vectors.lshTopKMultiProbe(queries, emb, "vec_id", "embedding", k = 10, bits = 4, radius = 2))
    info(f"recall@10 radius1=$r1%.3f radius2=$rr2%.3f")
    assert(rr2 >= r1)
  }

  test("the gated radius-2 registry row discriminates the expansion (differs from radius 1) and wide explicit widths are refused") {
    // X234's gate claim: q_ann_lsh_mp_r2's hashed output is DISTINCT from
    // q_ann_lsh_mp's on the gate corpus — the oracle compare exercises the
    // Hamming-2 expansion itself, not just shared plumbing
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val r1 = graft.SparkEntry.queries("q_ann_lsh_mp")(spark, dir).collect().toSeq
    val r2 = graft.SparkEntry.queries("q_ann_lsh_mp_r2")(spark, dir).collect().toSeq
    assert(r1 != r2, "radius-2 row identical to radius-1 on the gate corpus — the gate would not discriminate the expansion")
    // r16 advice: explicit widths past the 24-bit bitsFor ceiling are
    // refused at plan time (the probe keys are enumerated EXPRESSIONS)
    val df = Seq((0L, Array(1f, -1f, 1f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      df.select(Vectors.multiProbeBuckets($"embedding", 70, 3)).collect()
    }
  }

  test("multi-probe recall@k on the embeddings table is >= single-bucket") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val rSingle = recallOf(queries, emb,
      Vectors.lshTopK(queries, emb, "vec_id", "embedding", k = 10, bits = 4))
    val rMulti = recallOf(queries, emb,
      Vectors.lshTopKMultiProbe(queries, emb, "vec_id", "embedding", k = 10, bits = 4))
    info(f"recall@10 multi-probe=$rMulti%.3f single=$rSingle%.3f")
    assert(rMulti >= rSingle)
    assert(rMulti > 0.5, f"multi-probe recall implausibly low: $rMulti%.3f")
  }

  test("lshTopKMultiTable: table 0 is the single-table bank, recall is monotone in L, guards refuse over-dimension banks") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    // L=1 degenerates to exactly lshTopK (same bank, dedup a no-op)
    val single = Vectors.lshTopK(queries, emb, "vec_id", "embedding", k = 10, bits = 4)
      .orderBy("query_id", "rank").collect().toSeq
    val one = Vectors.lshTopKMultiTable(queries, emb, "vec_id", "embedding", k = 10,
      bits = 4, tables = 1).orderBy("query_id", "rank").collect().toSeq
    assert(one == single)
    // candidate-superset law: more tables at the SAME width never lose recall
    val rSingle = recallOf(queries, emb,
      Vectors.lshTopK(queries, emb, "vec_id", "embedding", k = 10, bits = 4))
    val rTwo = recallOf(queries, emb,
      Vectors.lshTopKMultiTable(queries, emb, "vec_id", "embedding", k = 10, bits = 4, tables = 2))
    val rFour = recallOf(queries, emb,
      Vectors.lshTopKMultiTable(queries, emb, "vec_id", "embedding", k = 10, bits = 4, tables = 4))
    info(f"recall@10 single=$rSingle%.3f L2=$rTwo%.3f L4=$rFour%.3f (bits=4)")
    assert(rTwo >= rSingle && rFour >= rTwo)
    // equal-candidate-budget leg: L=4 tables at bits=6 expect the same
    // 4·n/2^6 = n/16 candidates as one table at bits=4
    val rBudget = recallOf(queries, emb,
      Vectors.lshTopKMultiTable(queries, emb, "vec_id", "embedding", k = 10, bits = 6, tables = 4))
    info(f"recall@10 equal-budget: L4@bits6=$rBudget%.3f vs single@bits4=$rSingle%.3f")
    // deterministic corpus + total-order tie-breaks → these recalls are
    // constants of the testdata, so the ≥ is a pin, not a flake risk
    assert(rBudget >= rSingle,
      f"L tables lost to a single coarser table at equal candidate budget: $rBudget%.3f < $rSingle%.3f")
    // 16 tables of 6 bits would need 96 > 64 components
    intercept[IllegalArgumentException] {
      Vectors.lshTopKMultiTable(queries, emb, "vec_id", "embedding", k = 10,
        bits = 6, tables = 16)
    }
  }

  test("FixedPointFp is bit-identical to the builtin Column formulation") {
    val rnd = new scala.util.Random(1234)
    val vecs = (0 until 500).map { i =>
      val d = 1 + rnd.nextInt(16)
      (i.toLong, Seq.fill(d)((rnd.nextFloat() - 0.5f) * rnd.nextInt(1000)))
    } ++ Seq(
      (2000L, Seq.empty[Float]),
      (2001L, Seq(-0.0f, 0.0f)),                 // signed zero → 0
      (2002L, Seq(0.0000005f, -0.0000005f)),     // .5-tie after ×1e6: away from zero
      (2003L, Seq(1.5e-6f, -1.5e-6f)))
    val df = vecs.toDF("vec_id", "embedding")
    val native = df.select($"vec_id", Vectors.fixedPoint($"embedding").as("f"))
      .orderBy("vec_id").as[(Long, Seq[Long])].collect().toSeq
    val builtin = df.select($"vec_id", Vectors.fixedPointBuiltins($"embedding").as("f"))
      .orderBy("vec_id").as[(Long, Seq[Long])].collect().toSeq
    assert(native == builtin)
  }

  test("QuantizeInt8Fp is bit-identical to the builtin Column formulation") {
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map { i =>
      val d = 1 + rnd.nextInt(8)
      (i.toLong, Seq.fill(d)((rnd.nextFloat() - 0.5f) * rnd.nextInt(100)))
    } ++ Seq(
      (1000L, Seq.empty[Float]),          // empty → (empty, NULL, NULL)
      (1001L, Seq(5f, 5f, 5f)),           // constant → zero codes
      (1002L, Seq(-0.0f, 0.0f, 1f)),      // signed-zero ordering
      (1003L, Seq(Float.MinPositiveValue, 0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val native = Vectors.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    val builtin = Vectors.quantizeInt8Builtin(df, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    assert(native.map(_.toSeq) == builtin.map(_.toSeq))

    // null ELEMENTS (Row-based frame — Seq[Float] can't hold nulls):
    // min/max skip nulls; null slots code to null, except the constant-
    // vector branch whose when(mx = mn, 0) never looks at the element
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val nullRows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq[Any](1f, null, 3f)),
        Row(2L, Seq[Any](5f, null, 5f)),
        Row(3L, Seq[Any](null, null))),
      schema)
    val nNative = Vectors.quantizeInt8(nullRows, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    val nBuiltin = Vectors.quantizeInt8Builtin(nullRows, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    assert(nNative.map(_.toSeq) == nBuiltin.map(_.toSeq))
    assert(nNative(0).getSeq[Any](1) == Seq(0, null, 255))
    assert(nNative(1).getSeq[Any](1) == Seq(0, 0, 0))
    assert(nNative(2).getSeq[Any](1) == Seq(null, null) && nNative(2).isNullAt(2))
  }

  test("pqCodes: exact argmin per subspace, lowest-id tie-break") {
    // 4-dim vectors, m=2 subspaces, k=2 seeded codebook entries:
    // c0 = [0,0 | 0,0], c1 = [10,10 | 10,10]
    val v = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(10f, 10f, 10f, 10f)),
      (2L, Seq(1f, 1f, 9f, 9f)),  // sub0 nearest c0, sub1 nearest c1
      (3L, Seq(5f, 5f, 5f, 5f))   // equidistant in both -> tie -> c0
    ).toDF("vec_id", "embedding")
    val out = Vectors.pqCodes(v, "vec_id", "embedding", m = 2, k = 2)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(out == Seq(
      (0L, 0, 0), (0L, 1, 0),
      (1L, 0, 1), (1L, 1, 1),
      (2L, 0, 0), (2L, 1, 1),
      (3L, 0, 0), (3L, 1, 0)))
  }

  test("pqTopK: ADC distances from the LUT, (dist, id) total order") {
    // Same corpus/codebook as the pqCodes test; query = v2 [1,1 | 9,9].
    // Unit-scale LUT: sub0 {c0: 2, c1: 162}, sub1 {c0: 162, c1: 2}.
    // ADC by assigned codes: v2 (0,1) -> 4; v0 (0,0), v1 (1,1), v3 (0,0)
    // all -> 164; fixed-point multiplies every entry by 1e12.
    val v = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(10f, 10f, 10f, 10f)),
      (2L, Seq(1f, 1f, 9f, 9f)),
      (3L, Seq(5f, 5f, 5f, 5f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.pqTopK(v, "vec_id", "embedding",
      queryId = 2L, m = 2, k = 2, topK = 4).as[(Long, Long)].collect().toSeq
    val u = 1000000000000L
    assert(out == Seq((2L, 4L * u), (0L, 164L * u), (1L, 164L * u), (3L, 164L * u)))
  }

  test("ivfPqTopK: full probe equals plain ADC; pruning probes only the nearest lists") {
    val v = Seq(
      (0L, Seq(0f, 0f, 1f, 1f)),
      (1L, Seq(10f, 10f, 9f, 9f)),
      (2L, Seq(1f, 1f, 2f, 2f)),
      (3L, Seq(9f, 9f, 8f, 8f)),
      (4L, Seq(0f, 1f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    // probes = nCentroids: no pruning -> identical to plain ADC top-k
    val full = Vectors.ivfPqTopK(v, "vec_id", "embedding",
      queryId = 2L, nCentroids = 2, probes = 2, m = 2, k = 2, topK = 5)
      .as[(Long, Long)].collect().toSeq
    val adc = Vectors.pqTopK(v, "vec_id", "embedding",
      queryId = 2L, m = 2, k = 2, topK = 5)
      .as[(Long, Long)].collect().toSeq
    assert(full == adc)
    // probes = 1: only the query's own list survives; results are a
    // prefix-consistent subset of the full ranking
    val pruned = Vectors.ivfPqTopK(v, "vec_id", "embedding",
      queryId = 2L, nCentroids = 2, probes = 1, m = 2, k = 2, topK = 5)
      .as[(Long, Long)].collect().toSeq
    assert(pruned.nonEmpty && pruned.size < full.size)
    assert(pruned.toSet.subsetOf(full.toSet))
    // cosine ranks centroid 1 nearest for q=[1,1,2,2] (0.930 vs 0.894 —
    // cosine is direction, not magnitude), and v2/v4 also assign there,
    // so the probed list is exactly {1,2,3,4} and v0 (list 0) is pruned
    assert(pruned.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("trainPqCodebooks: L2 training lowers distortion vs seeded, deterministically") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (m, k) = (4, 8)
    val fvAll = emb.select($"vec_id".as("id"),
      Vectors.fixedPoint($"embedding").as("fv"))
    val seeded = fvAll.filter($"id" < k).orderBy($"id")
      .select($"fv").as[Seq[Long]].collect().toSeq
    val trained = Vectors.trainPqCodebooks(emb, "vec_id", "embedding", m, k, iters = 2)
    val trained2 = Vectors.trainPqCodebooks(emb, "vec_id", "embedding", m, k, iters = 2)
    assert(trained == trained2) // integer means -> deterministic training
    val dSeeded = Vectors.pqDistortion(emb, "vec_id", "embedding", m, seeded)
    val dTrained = Vectors.pqDistortion(emb, "vec_id", "embedding", m, trained)
    assert(dTrained <= dSeeded,
      s"training must not raise the Lloyd objective: $dTrained > $dSeeded")
    assert(dTrained < dSeeded) // and on real embeddings it strictly improves
  }

  test("pqCodesWith(seeded codebook) reproduces pqCodes exactly") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (m, k) = (4, 16)
    val fvAll = emb.select($"vec_id".as("id"),
      Vectors.fixedPoint($"embedding").as("fv"))
    val seeded = fvAll.filter($"id" < k).orderBy($"id")
      .select($"fv").as[Seq[Long]].collect().toSeq
    val a = Vectors.pqCodes(emb, "vec_id", "embedding", m, k)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    val b = Vectors.pqCodesWith(emb, "vec_id", "embedding", m, seeded)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(a == b && a.nonEmpty)
  }

  // label 7: even half {id 2: [1,0], id 4: [3,2]} → centroid (2e6, 1e6);
  // odd half {id 1: [2,4]} → (2e6, 4e6). L1 = 3e6; dot = 8e12;
  // norms 5e12 / 2e13. Label 9 exists only in the even half → dropped;
  // a NULL embedding contributes nothing.
  test("centroidDrift: hand-computed halves, one-sided labels dropped, nulls excluded") {
    val vecs = Seq(
      (1L, 7, Seq(2f, 4f)), (2L, 7, Seq(1f, 0f)), (4L, 7, Seq(3f, 2f)),
      (6L, 9, Seq(5f, 5f)), (8L, 7, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "label", "embedding")
    val out = Vectors.centroidDrift(vecs, "label", "vec_id", "embedding")
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (7, 2L, 1L, 3000000L, 8000000000000L, 5000000000000L, 20000000000000L)))
  }

  test("groupCentroidCosines: matches a driver-side double computation, bounded pairs") {
    val vecs = Seq(
      (1L, 0, Seq(1f, 0f, 0f)), (2L, 0, Seq(1f, 0.2f, 0f)),
      (3L, 1, Seq(0f, 1f, 0f)), (4L, 1, Seq(0.1f, 1f, 0f)),
      (5L, 2, Seq(0f, 0f, 0f))  // zero-centroid group → NULL cosine
    ).toDF("vec_id", "label", "embedding")
    val out = Vectors.groupCentroidCosines(vecs, "label", "embedding")
      .orderBy($"group_a", $"group_b")
      .select($"group_a", $"group_b", $"n_a", $"n_b", $"cos")
      .as[(Int, Int, Long, Long, Option[Double])].collect().toSeq
    assert(out.map(t => (t._1, t._2)) == Seq((0, 1), (0, 2), (1, 2)))
    assert(out.map(t => (t._3, t._4)) == Seq((2L, 2L), (2L, 1L), (2L, 1L)))
    // driver-side reference: fp6 → sum → div n → cosine in double
    def cent(vs: Seq[Seq[Float]]): Seq[Long] =
      vs.map(_.map(x => math.round(x.toDouble * 1e6))).transpose
        .map(_.sum / vs.size)
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val c0 = cent(Seq(Seq(1f, 0f, 0f), Seq(1f, 0.2f, 0f)))
    val c1 = cent(Seq(Seq(0f, 1f, 0f), Seq(0.1f, 1f, 0f)))
    assert(out(0)._5.contains(cos(c0, c1)))
    // zero-magnitude centroid yields NULL, never NaN
    assert(out(1)._5.isEmpty && out(2)._5.isEmpty)
    // the gated integer triple is exact: dot and both squared norms
    val ints = Vectors.groupCentroidCosines(vecs, "label", "embedding")
      .orderBy($"group_a", $"group_b")
      .select($"dot_fp", $"norm_a_fp", $"norm_b_fp")
      .as[(Long, Long, Long)].collect().toSeq
    def dotL(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(ints(0) == ((dotL(c0, c1), dotL(c0, c0), dotL(c1, c1))))
    assert(ints(1) == ((0L, dotL(c0, c0), 0L)) &&
      ints(2) == ((0L, dotL(c1, c1), 0L)))
  }

  test("rademacherProject: exact integer components match a driver-side recomputation") {
    val vecs = Seq(
      (1L, Seq(1f, -0.5f, 0.25f, 0f)),
      (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(-1f, -1f, 2f, 0.125f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.rademacherProject(vecs, "vec_id", "embedding", 4, 3)
      .as[(Long, Int, Long)].collect()
      .map { case (id, j, c) => ((id, j), c) }.toMap
    assert(out.size == 9)
    def sign(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 0L) 1L else -1L
    }
    val fv = Map(
      1L -> Seq(1000000L, -500000L, 250000L, 0L),
      2L -> Seq(0L, 0L, 0L, 0L),
      3L -> Seq(-1000000L, -1000000L, 2000000L, 125000L))
    for (id <- Seq(1L, 2L, 3L); j <- 0 until 3) {
      val expect = (0 until 4).map(i => fv(id)(i) * sign(j, i)).sum
      assert(out((id, j)) == expect, s"vec $id dim $j")
    }
    // signs are data-independent: both ±1 values occur across the matrix
    val signs = for (j <- 0 until 3; i <- 0 until 4) yield sign(j, i)
    assert(signs.contains(1L) && signs.contains(-1L))
  }

  test("quantizeInt8: known codes, constant-vector guard, bounded reconstruction error") {
    val v = Seq(
      (1L, Seq(0f, 1f, 2f)),
      (2L, Seq(3f, 3f, 3f)),          // constant vector → all-zero codes
      (3L, Seq(-1f, 0.5f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.quantizeInt8(v, "vec_id", "embedding")
      .select($"id", $"codes", $"q_min", $"q_max")
      .as[(Long, Seq[Int], Double, Double)].collect().sortBy(_._1)
    assert(out(0)._2 == Seq(0, 128, 255)) // round(1*255/2) = round(127.5) = 128
    assert(out(0)._3 == 0.0 && out(0)._4 == 2.0)
    assert(out(1)._2 == Seq(0, 0, 0))
    // dequantization error is at most half a quantization step
    out.filter(t => t._4 > t._3).foreach { case (id, codes, mn, mx) =>
      val orig = Map(1L -> Seq(0f, 1f, 2f), 3L -> Seq(-1f, 0.5f, 1f))(id)
      val step = (mx - mn) / 255.0
      codes.zip(orig).foreach { case (c, o) =>
        assert(math.abs(mn + c * step - o) <= step / 2 + 1e-9,
          s"vec $id component $o decoded ${mn + c * step}")
      }
    }
  }

  test("labelScatterStats: exact per-(label,dim) stats, toward-zero fp3, null vectors dropped") {
    val v = Seq(
      (10, Array(1.0f, -1.0f)),
      (10, Array(0.5f, 0.25f)),
      (20, Array(-0.0005f, 0.0015f)), // fp6 = -500, 1500 → div 1000 = 0, 1 (toward zero)
      (30, null.asInstanceOf[Array[Float]])
    ).toDF("label", "embedding")
    val out = Vectors.labelScatterStats(v, "label", "embedding")
      .orderBy($"label", $"dim")
      .as[(Int, Int, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      // label 10: dim0 q = 1000, 500; dim1 q = -1000, 250
      (10, 0, 2L, 1500L, 1250000L),
      (10, 1, 2L, -750L, 1062500L),
      // label 20: toward-zero truncation of -500 // 1000 is 0, not -1
      (20, 0, 1L, 0L, 0L),
      (20, 1, 1L, 1L, 1L)))
    // Cauchy–Schwarz over the sufficient statistics: n·Σq² ≥ (Σq)²
    out.foreach { case (l, d, n, sx, sxx) =>
      assert(n * sxx >= sx * sx, s"label $l dim $d") }
  }

  test("mmrRerank diversifies: near-duplicate of the top hit is displaced by a distinct vector") {
    // query q = e1; a at +45° (rel .707), a' ≈ a (rel .700), b at −47.7°
    // on the OTHER side (rel .673). Plain top-2 = {a, a'}; MMR λ=0.5:
    //   mmr(a') = .700 − cos(a', a) ≈ .700 − 1.0 ≈ −.300
    //   mmr(b)  = .673 − cos(b, a)  ≈ .673 + .048 ≈ +.720  → b displaces a'.
    val v = Seq(
      (42L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f)),     // a
      (2L, Array(1.0f, 1.02f)),    // a' — near-dup of a
      (3L, Array(1.0f, -1.1f)),    // b — diverse (opposite side of q)
      (9L, Array(0.0f, 0.0f))      // zero vector: excluded
    ).toDF("vec_id", "embedding")
    val out = Vectors.mmrRerank(v, "vec_id", "embedding", queryId = 42L,
        poolK = 3, k = 2)
      .orderBy("mmr_rank").as[(Int, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1, 2))
    assert(out(0)._2 == 1L, "first pick is the relevance argmax (tie → lower id)")
    assert(out(1)._2 == 3L, "second pick must be the diverse vector, not the near-dup")
    // exact integer contract columns: dot of fp6 vectors and squared norm
    assert(out(0)._3 == 1000000L * 1000000L && out(0)._4 > 0L)
  }

  test("contrastiveTriplets: positive is the nearest neighbor, negatives respect the posMax cut") {
    // anchor 0 = e1; near-dup 1 (cos ≈ 1) is the positive AND excluded
    // from negatives by the 0.95 cut; 2 (45°, cos ≈ .71) and 3 (60°-ish)
    // are the hard negatives in similarity order; 4 opposes the anchor's
    // sign bucket and must never appear (bucket-pruned)
    val v = Seq(
      (0L, Array(1.0f, 0.1f)),
      (1L, Array(1.0f, 0.11f)),
      (2L, Array(1.0f, 1.0f)),
      (3L, Array(0.6f, 1.0f)),
      (4L, Array(-1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.contrastiveTriplets(v, "vec_id", "embedding",
        col("vec_id") === 0, bits = 2, posMax = 0.95, k = 3)
      .orderBy($"role", $"rank")
      .as[(Long, String, Long, Double, Int)].collect()
    graft.Caches.release()
    val (neg, pos) = out.partition(_._2 == "neg")
    assert(pos.map(_._3).toSeq == Seq(1L), "positive must be the near-dup top-1")
    assert(neg.map(_._3).toSeq == Seq(2L, 3L), "hard negatives in cosine order, cut at posMax")
    assert(neg.forall(_._4 < 0.95) && pos.forall(_._4 > 0.95))
    assert(!out.exists(_._3 == 4L), "cross-bucket vector never becomes a candidate")
  }

  test("contrastiveTriplets: a positive below the posMax cut never re-enters the negatives") {
    // sparse bucket: the top-1 for anchor 0 scores only ~0.77 (< 0.95),
    // so the positive itself falls under the cut — it must be excluded
    // from the negative list, not emitted twice
    val v = Seq(
      (0L, Array(1.0f, 0.1f)),
      (2L, Array(1.0f, 1.0f)),    // top-1, cos ≈ .77 < posMax
      (3L, Array(0.6f, 1.0f))     // cos ≈ .60
    ).toDF("vec_id", "embedding")
    val out = Vectors.contrastiveTriplets(v, "vec_id", "embedding",
        col("vec_id") === 0, bits = 2, posMax = 0.95, k = 3)
      .as[(Long, String, Long, Double, Int)].collect()
    graft.Caches.release()
    val (neg, pos) = out.partition(_._2 == "neg")
    assert(pos.map(_._3).toSeq == Seq(2L), "positive is still the top-1")
    assert(neg.map(_._3).toSeq == Seq(3L),
      "the below-cut positive must not reappear as a negative")
  }

  test("mmrRerank: zero-magnitude or absent query fails loud, never NaN-ranks") {
    val v = Seq(
      (42L, Array(0.0f, 0.0f)),    // zero-norm query
      (1L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Vectors.mmrRerank(v, "vec_id", "embedding", 42L, poolK = 2, k = 1)
    }
    assert(e1.getMessage.contains("nonzero"))
    val e2 = intercept[IllegalArgumentException] {
      Vectors.mmrRerank(v, "vec_id", "embedding", 999L, poolK = 2, k = 1)
    }
    assert(e2.getMessage.contains("999"))
  }

  test("mmrRerank degrades to relevance order when k exhausts the pool") {
    val v = Seq(
      (42L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Vectors.mmrRerank(v, "vec_id", "embedding", 42L, poolK = 3, k = 3)
      .orderBy("mmr_rank").as[(Int, Long, Long, Long)].collect()
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L), "pool exhausted → all selected")
    assert(out.map(_._1).toSeq == Seq(1, 2, 3))
    assert(out(0)._2 == 1L, "rank 1 is still the relevance argmax")
  }

  test("covarianceStats matches the brute-force pair formulation") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 1.0f)),
      (2L, Array(0.1f, 0.2f, -0.3f)),
      (3L, Array(0.0f, 1.0f, 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Vectors.covarianceStats(df, "embedding")
      .as[(Int, Int, Long, Long, Long, Long)].collect().toSeq
    // reference quantizer = the labelScatterStats chain: fp6 then div 1000
    // fixture values all quantize to exact multiples of 1000, so any
    // rounding-mode/truncation-direction subtlety is out of scope here
    // (PortabilitySpec owns those edges for the shared kernel)
    def q(x: Float): Long = Math.round(x.toDouble * 1e6) / 1000L
    val qs = vecs.map(_._2.map(q))
    val d = 3
    val expect = for (i <- 0 until d; j <- i until d) yield (
      i, j, qs.size.toLong,
      qs.map(_(i)).sum, qs.map(_(j)).sum,
      qs.map(v => v(i) * v(j)).sum)
    assert(out == expect)
    // diagonal rows must be internally symmetric
    out.filter(r => r._1 == r._2).foreach(r => assert(r._4 == r._5))
  }

  test("covarianceStats: null vectors are skipped, empty input yields no rows") {
    val df = Seq(
      (1L, Some(Array(0.5f, 0.5f))),
      (2L, None: Option[Array[Float]])).toDF("vec_id", "embedding")
    val out = Vectors.covarianceStats(df, "embedding")
      .as[(Int, Int, Long, Long, Long, Long)].collect()
    assert(out.length == 3 && out.forall(_._3 == 1L))
    val empty = Vectors.covarianceStats(
      df.filter($"vec_id" < 0L), "embedding").collect()
    assert(empty.isEmpty)
  }

  test("covarianceStats diagonal agrees with labelScatterStats on one label") {
    val df = Seq(
      (1L, Array(0.3f, -0.8f)),
      (2L, Array(0.6f, 0.25f)),
      (3L, Array(-0.1f, 0.9f))).toDF("vec_id", "embedding")
    val diag = Vectors.covarianceStats(df, "embedding")
      .filter($"i" === $"j")
      .select($"i".as("dim"), $"n", $"sum_qi".as("sx"))
      .as[(Int, Long, Long)].collect().toSeq
    val scatter = Vectors.labelScatterStats(
        df.withColumn("label", lit(0)), "label", "embedding")
      .select($"dim", $"n", $"sx").as[(Int, Long, Long)].collect().toSeq
    assert(diag == scatter)
  }
}
