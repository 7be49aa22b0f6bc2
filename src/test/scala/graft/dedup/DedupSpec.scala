package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with no overlap whatsoever here"),
    (4L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (5L, "short"),                                        // < n tokens
    (6L, "")                                              // empty
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").select($"keep_id", $"dup_count").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L), (6L, 1L)))
  }

  test("shingles produces distinct n-grams and drops docs shorter than n tokens") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val byId = sh.groupBy("id").count().orderBy("id").as[(Long, Long)].collect().toMap
    assert(byId(1L) == 7)          // 9 tokens → 7 trigrams
    assert(!byId.contains(5L))     // 1 token → none
    assert(!byId.contains(6L))     // empty → none (the crash case from round 1)
  }

  test("ngramJaccardPairs finds near-dups above threshold, id_a < id_b") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    // 1~2 share 6 of 8 union trigrams; 1~4 and 2~4 identical-text pairs
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 == 1.0)
  }

  test("globalRankByKey equals the single-partition row_number, any input partitioning") {
    val rows = (1L to 100L).map(i => (i, f"k${(i * 37) % 10}%s")) // 10-way key ties
    val ref = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    Seq(1, 5, 32).foreach { p =>
      val got = Dedup.globalRankByKey(rows.toDF("id", "k").repartition(p))
        .select($"id", $"r").as[(Long, Long)].collect().toMap
      assert(got == ref, s"parts=$p")
    }
  }

  test("sortedNeighborhoodPairs finds adjacent near-dups, exact-verified") {
    val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        n = 3, window = 5, prefixLen = 12, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    graft.Caches.release()
    // same result as the PPJoin path on this corpus: all three true pairs
    // sort adjacently under the shared "the quick br" prefix key
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 1.0)
  }

  test("sortedNeighborhoodPairs second (reversed-key) pass catches prefix-corrupted dups") {
    // 10 and 20 differ only in the FIRST word: pass-1 keys diverge
    // (apple… vs melon…) with the filler sorting between them, but both
    // REVERSED texts start "ekans regit " — adjacent in pass 2.
    val d = Seq(
      (10L, "apple zebra yak xylophone walrus vulture tiger snake"),
      (15L, "coconut mango papaya guava lychee durian fig date"),
      (20L, "melon zebra yak xylophone walrus vulture tiger snake")
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        n = 3, window = 1, prefixLen = 12, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    graft.Caches.release()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((10L, 20L)))
    assert(math.abs(got.head._3 - 5.0 / 7.0) < 1e-12) // 5 shared of 7 union trigrams
  }

  test("sortedNeighborhoodPairs documented miss: pair outside the window under BOTH keys") {
    // 10 and 30 differ in first AND last word (J = 6/10 = 0.6 ≥ 0.5) and
    // the filler 20 sorts between them under both keys ("beta…" between
    // "alpha…"/"zeta…"; reversed "god…" between "agemo…"/"isp…") — at
    // window=1 the blocker must miss the pair, at window=2 it must not.
    val d = Seq(
      (10L, "alpha m1 m2 m3 m4 m5 m6 m7 m8 omega"),
      (20L, "beta x1 x2 x3 dog"),
      (30L, "zeta m1 m2 m3 m4 m5 m6 m7 m8 psi")
    ).toDF("doc_id", "text")
    val missed = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        n = 3, window = 1, prefixLen = 12, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    graft.Caches.release()
    assert(missed.isEmpty)
    val caught = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        n = 3, window = 2, prefixLen = 12, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    graft.Caches.release()
    assert(caught.map(p => (p._1, p._2)).toSeq == Seq((10L, 30L)))
  }

  test("containmentPairs catches doc-contains-doc that jaccard misses") {
    // doc 8 EMBEDS doc 7 verbatim inside much more text: containment
    // C(7→8) = 1.0 while the jaccard dilutes below any useful threshold
    val cdocs = Seq(
      (7L, "alpha beta gamma delta epsilon"),
      (8L, "one two three alpha beta gamma delta epsilon four five six " +
        "seven eight nine ten eleven twelve thirteen fourteen fifteen"),
      (9L, "entirely unrelated words in this third document body")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(cdocs, "doc_id", "text", n = 3, tau = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((7L, 8L)))
    val (_, _, cAb, cBa) = out.head
    assert(cAb == 1.0)       // every trigram of 7 appears in 8
    assert(cBa < 0.9)        // 8 is much larger — asymmetry is the point
    val j = Dedup.ngramJaccardPairs(cdocs, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(!j.exists(p => p._1 == 7L && p._2 == 8L)) // jaccard-blind pair
  }

  test("containmentPairs equals the naive all-pairs form") {
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("id_a", "id_b").as[(Long, Long, Double, Double)].collect().toSeq
    // naive: every unordered pair via full sets, no pruning
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .as[(Long, Seq[String], Long)].collect()
      .filter(_._3 > 0).map(r => (r._1, r._2.toSet)).toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) intersect sets(b)).size.toDouble
      cab = inter / sets(a).size; cba = inter / sets(b).size
      if math.max(cab, cba) >= 0.6
    } yield (a, b, cab, cba)).toSeq.sortBy(p => (p._1, p._2))
    assert(pairs == naive)
  }

  test("minhashLshPairs candidates verified by true jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.99)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    // only the exact-dup pair survives threshold .99; LSH must find it
    // (identical docs always share every band)
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 4L)))
  }

  test("incrementalMinhashNearDup pairs batch against store only, exact-verified") {
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text with no overlap whatsoever here"),
      (3L, "completely different text with no overlap whatsoever here")  // in-store dup
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),  // dup of store 1
      (101L, "novel content that matches nothing in the standing corpus")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashNearDup(batch, store, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.9)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    // the in-store (2,3) dup must NOT appear: admission screens the batch
    // only; id_a is always the batch doc
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((100L, 1L)))
    assert(out.head._3 == 1.0)
  }

  test("minhashCandidatePairs banding is a superset of the verified pairs") {
    val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2)
      .select($"id_a", $"id_b").distinct().as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cand))
    assert(cand.contains((1L, 4L)))  // identical docs share every band
  }

  test("simhashNearDupPairs finds low-Hamming pairs through chunk banding") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 1)
      .as[(Long, Long, Int)].collect()
    // identical docs 1 and 4 have Hamming distance 0 and MUST be found
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
    assert(pairs.forall(_._3 <= 1))
  }

  test("simhashNearDupPairs plan streams pairs (no collect_list over fixed-keyspace buckets)") {
    // The simhash chunk keyspace is fixed and tiny, so a collect_list per
    // (chunk, bits) group would materialize ~N/keyspace of the corpus in
    // one row. The pairs plan must use the streaming equi-self-join.
    val plan = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 1)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), s"pairs plan must not collect buckets:\n$plan")
  }

  test("simhash 16-bit pair miner size fence refuses corpora past the width's safe bound") {
    // SCALE_r13 study 1 measured the teaching shape's quadratic law
    // (162x at x100); the fence makes the teaching/production split
    // self-enforcing. 20k docs at maxDist=2 imply ~19M expected
    // bucket-join candidates > the 2^22 default cap — must refuse,
    // naming the 64-bit production path, WITHOUT running a job (the
    // estimate-first sizing reads Range's known rowCount).
    val big = spark.range(20000).select($"id", lit("0101010101010101").as("simhash"))
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsFromSigs(big, maxDist = 2)
    }
    assert(e.getMessage.contains("simhash64"), e.getMessage)
    // the cap is a parameter: ops can tighten it to zero and the fence
    // fires even at teaching scale
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsFromSigs(sigs, maxDist = 1, maxExpectedCandidates = 0L)
    }
    // gate-scale corpora pass the DEFAULT fence (the hash-gated rows
    // q_simhash_pairs / q_simhash_dedup / q_dedup_ensemble stay green)
    assert(Dedup.simhashNearDupPairsFromSigs(sigs, maxDist = 1).count() >= 1)
  }

  test("simhashClusters is not fenced on the signature-contracted node set") {
    // The fence guards DOC-level corpus inputs (quadratic candidate
    // growth); simhashClusters feeds the pair miner the DISTINCT
    // signature table, which the 2^16 space bounds no matter the corpus.
    // A dup-sparse corpus with 33k distinct signatures at maxDist=1
    // trips the doc-level fence's n — the cluster path must still run
    // (it did not before the r15 fix: the fence threw from inside the
    // contracted path with advice its callers cannot act on).
    val sigs = spark.range(33000)
      .selectExpr("id", "lpad(bin(id), 16, '0') AS simhash")
    // doc-level entry refuses this n at maxDist=1 ...
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsFromSigs(sigs, maxDist = 1)
    }
    // ... the contracted cluster path must not
    val clustered = Dedup.simhashClusters(sigs, maxDist = 1)
    assert(clustered.count() > 0)
    // consecutive even/odd ids differ in exactly bit 16 → same cluster
    val c = clustered.filter($"id" <= 1).select("cluster_id")
      .as[Long].collect().toSet
    assert(c == Set(0L))
  }

  test("minhashLshPairs skew guard: oversized buckets route to self-join, same result") {
    // 40 byte-identical docs land in ONE bucket per band; with
    // maxBucket = 4 every bucket exceeds the cap so ALL pairs must come
    // from the streaming self-join branch — and match the uncapped run.
    val clones = (1L to 40L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val degenerate = clones.toDF("doc_id", "text")
    val capped = Dedup.minhashLshPairs(degenerate, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.99, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashLshPairs(degenerate, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
    assert(capped.size == 40 * 39 / 2) // all-pairs of identical docs
  }

  test("ngramJaccardPairs skew guard: oversized prefix groups route to self-join, same result") {
    // identical docs make every prefix shingle maximally frequent; with
    // maxBucket = 4 all prefix groups exceed the cap, so every candidate
    // must flow through the self-join branch — and match the uncapped run
    val clones = (1L to 30L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val degenerate = clones.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(degenerate, "doc_id", "text",
      n = 3, threshold = 0.8, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.ngramJaccardPairs(degenerate, "doc_id", "text",
      n = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
    assert(capped.size == 30 * 29 / 2)
  }

  test("string doc ids flow through both guarded near-dup pipelines") {
    // the capped aggregate must not silently require bigint ids: run both
    // pipelines (capped AND overflow-routed) over string keys and check
    // against the long-id runs of the same corpus
    val sdocs = docs.withColumn("doc_id", concat(lit("doc-"), format_string("%02d", $"doc_id")))
    val nj = Dedup.ngramJaccardPairs(sdocs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(nj == Set(("doc-01", "doc-02"), ("doc-01", "doc-04"), ("doc-02", "doc-04")))
    val clones = (1 to 30).map(i => (f"c-$i%02d", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashLshPairs(clones, "doc_id", "text",
      n = 3, k = 6, rowsPerBand = 2, threshold = 0.99, maxBucket = 4)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(capped.size == 30 * 29 / 2) // all pairs, via the overflow branch
    assert(capped.forall { case (a, b) => a < b })
  }

  test("contamination counts distinct shared n-grams per corpus doc, broadcast bench side") {
    val benchmark = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val out = Dedup.contamination(docs, benchmark, "doc_id", "text", n = 3)
    // docs 1/2/4 share exactly the 3 benchmark trigrams; 3 shares none,
    // 5/6 have no trigrams at all — only contaminated docs appear
    val hits = out.as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 3L, 2L -> 3L, 4L -> 3L))
    // the benchmark gram set must be the broadcast side (corpus unshuffled)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("connectedComponents labels every endpoint with its component min") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    // a 4-chain has diameter 3; one round cannot propagate the min
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
  }

  test("simhashClusters (signature-contracted) equals doc-level connected components") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    val viaContract = Dedup.simhashClusters(sigs, maxDist = 1)
      .as[(Long, Long)].collect().toSet
    val viaDocs = Dedup.connectedComponents(
      Dedup.simhashNearDupPairsFromSigs(sigs, maxDist = 1).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(viaContract == viaDocs)
    // identical docs 1 and 4 share a signature → same cluster, min id 1
    assert(viaContract.contains((4L, 1L)) && viaContract.contains((1L, 1L)))
  }

  test("simhashClusters wide-maxDist parameter drift falls back to distributed CC") {
    // maxDist = 15's analytic worst case (2^16 · Σ C(16,d) / 2 edges)
    // blows past any sane collect bound, so the guard counts the pairs
    // and this small graph still collects; a zero bound forces the
    // distributed connectedComponents path. Both must produce the labels
    // the (unbounded) analytic union-find route yields
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    def clusters = Dedup.simhashClusters(sigs, maxDist = 15)
      .as[(Long, Long)].collect().toSet
    val viaFallback = graft.Collect.withMaxRows(0L)(clusters)
    val viaUnionFind = graft.Collect.withMaxRows(Long.MaxValue)(clusters)
    assert(viaFallback == viaUnionFind)
    assert(clusters == viaUnionFind)
    assert(viaFallback.nonEmpty) // Hamming <= 15 links nearly everything
  }

  test("simhashClusters counts its pairs when the analytic guard is over the bound") {
    // maxDist = 1's analytic worst case is 2^16 · 16 / 2 = 524,288 edges,
    // over both bounds below, so the measured pair count decides: three
    // contracted edges (a chain 0…00 ~ 0…01 ~ 0…11, and 1…11 ~ 1…10)
    // fit under 3 and take the driver union-find; under 2 they run the
    // distributed connectedComponents, whose rounds checkpoint
    val sigs = Seq((1L, "0000000000000000"), (2L, "0000000000000001"),
      (3L, "0000000000000011"), (4L, "1111111111111111"), (5L, "1111111111111110"),
      (6L, "0000000000000000"), (7L, "0101010101010101")).toDF("id", "simhash")
    def route(maxEdges: Long): (Set[(Long, Long)], Boolean) =
      graft.Collect.withMaxRows(maxEdges) {
        val out = Dedup.simhashClusters(sigs, maxDist = 1)
        val checkpointed = out.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r }.nonEmpty
        (out.as[(Long, Long)].collect().toSet, checkpointed)
      }
    val (viaUnionFind, ufCheckpointed) = route(3L)
    val (viaComponents, ccCheckpointed) = route(2L)
    assert(!ufCheckpointed && ccCheckpointed)
    val viaDocs = Dedup.connectedComponents(
      Dedup.simhashNearDupPairsFromSigs(sigs, maxDist = 1).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(viaUnionFind == viaComponents && viaUnionFind == viaDocs)
    assert(viaUnionFind == Set((1L, 1L), (2L, 1L), (3L, 1L), (6L, 1L), (4L, 4L), (5L, 4L)))
  }

  test("chunkBounds splits bit positions evenly and covers all of them") {
    assert(Dedup.chunkBounds(16, 3) == Seq((1, 6), (7, 5), (12, 5)))
    assert(Dedup.chunkBounds(16, 4) == Seq((1, 4), (5, 4), (9, 4), (13, 4)))
  }

  test("simhash: identical docs get identical 16-bit hashes, format is 0/1 string") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(h(1L) == h(4L))
    assert(h(1L).length == 16 && h(1L).forall(c => c == '0' || c == '1'))
  }

  test("dupNgramSpans merges overlapping duplicated grams into exact-coverage spans") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),                // shares "a b c","b c d" with 2 and 5
      (2L, "x x a b c d y z"),                // the shared run sits mid-document
      (3L, "p q r p q r p q r"),              // within-doc repetition: every 3-gram repeats
      (4L, "u v w"),                          // unique → absent from the report
      (5L, "a b c z1 z2 z3 z4 b c d")         // two DISJOINT duplicated spans
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgramSpans(corpus, "doc_id", "text", k = 3)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // (id, n_dup_grams, n_spans, dup_tokens, n_tokens, dup_frac)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 4L, 8L, 0.5),   // positions 1,2 overlap → one 4-token span
      (2L, 2L, 1L, 4L, 8L, 0.5),   // positions 3,4 → same merged width
      (3L, 7L, 1L, 9L, 9L, 1.0),   // all 7 grams duplicated → full coverage
      (5L, 2L, 2L, 6L, 10L, 0.6))) // positions 1 and 8: gap > k → two spans
    assert(!out.exists(_._1 == 4L))
  }

  test("incrementalExact admits only novel fingerprints and dedups within the batch") {
    val base = Seq((1L, "seen text"), (2L, "other text")).toDF("doc_id", "text")
    val store = Dedup.fingerprintStore(base, "doc_id", "text")
    val batch = Seq(
      (10L, "seen  TEXT"),   // whitespace/case-normalizes to a base print → anti-joined away
      (11L, "fresh text"),
      (12L, "fresh text"),   // batch-internal duplicate of 11
      (13L, "unique new")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, store, "doc_id", "text")
      .orderBy("id").select($"id", $"batch_dups").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((11L, 2L), (13L, 1L)))
  }

  test("dupNgramSpans within-doc repeats count without a second document") {
    val solo = Seq((9L, "m n m n m n")).toDF("doc_id", "text")
    val out = Dedup.dupNgramSpans(solo, "doc_id", "text", k = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // bigrams: mn nm mn nm mn — "m n"×3 + "n m"×2 → all 5 duplicated
    assert(out.toSeq == Seq((9L, 5L, 1L, 6L, 6L, 1.0)))
  }

  test("clusterRepresentatives: quality argmax, tie breaks to smallest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster_id")
    val scored = Seq((1L, 10L), (2L, 90L), (3L, 90L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "q_fp6")
    val out = Dedup.clusterRepresentatives(clusters, scored, "doc_id", "q_fp6")
      .orderBy($"cluster_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: q=90 tie between 2 and 3 → 2; cluster 5: tie → 5
    assert(out == Seq((1L, 2L, 90L, 3L), (5L, 5L, 7L, 2L)))
  }

  test("clusterRepresentatives: packed-key range guard throws on negative score") {
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val scored = Seq((1L, -5L), (2L, 3L)).toDF("doc_id", "q_fp6")
    val e = intercept[Exception] {
      Dedup.clusterRepresentatives(clusters, scored, "doc_id", "q_fp6").collect()
    }
    assert(e.getMessage.contains("packed-key range") ||
      Option(e.getCause).exists(_.getMessage.contains("packed-key range")))
  }

  test("cdcChunks: chunks reassemble the document exactly and boundaries are content-local") {
    val base = (1 to 80).map(i => s"w${i % 23}").mkString(" ")
    val shifted = "zzz qqq " + base // two tokens prepended
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", avgTokens = 8)
      .orderBy($"doc_id", $"chunk_id")
      .select($"doc_id", $"chunk_text", $"chunk_hash", $"n_tok")
      .as[(Long, String, String, Int)].collect()
    // lossless: concatenating a doc's chunks restores it token-exactly
    val re1 = ch.filter(_._1 == 1L).map(_._2).mkString(" ")
    val re2 = ch.filter(_._1 == 2L).map(_._2).mkString(" ")
    assert(re1 == base && re2 == shifted)
    // n_tok matches the chunk's own token count
    ch.foreach { case (_, txt, _, n) => assert(txt.split(" ").length == n) }
    // shift-resistance: after a 2-token prepend, later chunk hashes
    // survive (a fixed-size chunker would shift every boundary)
    val h1 = ch.filter(_._1 == 1L).map(_._3).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty,
      "content-defined boundaries must keep shared-suffix chunk identity")
  }

  test("incrementalCdcAdmit: template-heavy docs rejected, novel docs admitted") {
    // wide vocab so the template contains interior cut tokens (a 17-word
    // vocab can deterministically miss the mod-8 cut mask entirely)
    val template = (1 to 200).map(i => s"tpl${i % 97}").mkString(" ")
    val standing = Seq((1L, template)).toDF("doc_id", "text")
    val store = Dedup.cdcChunks(standing, "doc_id", "text", 8)
      .select($"chunk_hash")
    val batch = Seq(
      (10L, template + " tiny new bit"),                    // mostly old chunks
      (20L, (1 to 60).map(i => s"fresh${i % 29}").mkString(" ")), // all novel
      (30L, template)                                       // exact re-ingest
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalCdcAdmit(batch, store, "doc_id", "text", 8, 500)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // exact re-ingest: every chunk already in the store → 0 novel, rejected
    assert(byId(30L)._3 == byId(30L)._2 && !byId(30L)._5)
    // fully fresh doc: zero dup chunks, admitted
    assert(byId(20L)._3 == 0L && byId(20L)._5)
    // template + small addition: shares most chunks with the store
    assert(byId(10L)._3 > 0L)
    // permille arithmetic is consistent
    out.foreach { case (_, n, dup, novel, admit) =>
      assert(novel == (n - dup) * 1000 / n && admit == (novel >= 500))
    }
  }

  test("ngramNovelty: disjoint docs score 1000, memorized docs 0, mixtures in between") {
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "a b c d"),          // all 3-grams seen in train → 0 novel
      (20L, "x y z w"),          // fully disjoint → 1000
      (30L, "a b c q r s")       // 1 of 4 grams seen ("a b c") → 750
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(test, train, "doc_id", "text", 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((10L, 2L, 2L, 0L), (20L, 2L, 0L, 1000L),
      (30L, 4L, 1L, 750L)))
  }

  test("cdcChunks: single-chunk doc when no token hash hits the cut mask") {
    // avgTokens large → cuts are rare; with 3 tokens almost surely none,
    // but the invariant checked is structural: exactly covers, ids dense
    val docs = Seq((7L, "alpha beta gamma")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", avgTokens = 1 << 20)
      .select($"chunk_id", $"chunk_text").as[(Long, String)].collect()
    assert(ch.length == 1 && ch.head == ((0L, "alpha beta gamma")))
  }
}
