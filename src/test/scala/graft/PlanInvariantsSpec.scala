package graft

/** Engine-wide plan hygiene, swept over the WHOLE registry: the
  * invariants that keep a 100 TB run from dying are checked on every
  * query, not just the ones a reviewer thought to look at.
  */
class PlanInvariantsSpec extends SparkSpec {

  // streaming run-once queries execute a real stream on invocation —
  // their batch-equivalent plans are asserted in their own specs
  private def planCheckable(name: String): Boolean = !name.startsWith("q_stream_")

  test("q_join_hints: the merge hint overrides the broadcast-eligible plan") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_join_hints")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected the hinted SortMergeJoin in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "the merge hint should have suppressed the broadcast join")
  }

  test("q_dpp_scan: the fact scan carries a dynamicpruning filter and prunes at runtime") {
    val dir = "/root/testdata/sf0.001"
    // AQE off only for the inspection — the adaptive wrapper hides the
    // scan behind leaf query stages; DPP itself is independent of it
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = registry.RelationalQueries.qDppScan(spark, dir)
      assert(q.collect().nonEmpty)
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata("Location").contains("orders_by_year") => s
      }.getOrElse(fail(s"no fact FileSourceScanExec:\n${q.queryExecution.executedPlan}"))
      assert(scan.partitionFilters.mkString.contains("dynamicpruning"),
        s"no DPP filter on the fact scan: ${scan.partitionFilters}")
      // keep-years = {1996, 1999}; the fact side must read exactly those
      val byYear = new org.apache.hadoop.fs.Path(registry.RelationalQueries.partitionedOrdersDir(spark, dir))
      val total = Fs.of(spark, byYear).listStatus(byYear).count(_.getPath.getName.startsWith("o_year="))
      val pruned = scan.metrics.get("numPartitions").map(_.value).getOrElse(-1L)
      assert(pruned == 2 && pruned < total,
        s"expected 2 of $total partitions scanned, got $pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_bloom_join: the shuffle join carries a runtime bloom filter on the fact side") {
    val dir = "/root/testdata/sf0.001"
    val q = registry.RelationalQueries.qBloomJoin(spark, dir)
    val plan = q.queryExecution.optimizedPlan.toString.toLowerCase
    assert(plan.contains("might_contain"),
      s"no bloom runtime filter in the optimized plan:\n$plan")
    // and it really is a shuffle join — the child session disables broadcast
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastHashJoin"),
      "bloom row must exercise the shuffle join (broadcast prunes at the hash table instead)")
  }

  test("q_weighted_sample: global selection is TakeOrderedAndProject, no sort of the corpus") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_weighted_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected bounded per-partition heaps in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      "a weighted sample must never global-sort the corpus")
  }

  test("q_cms_freq: probe side broadcasts against the bounded counter table") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_cms_freq")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the d*w counter table should broadcast to the probes in:\n$plan")
  }

  test("q_cdc_dedup: no optimizer-inferred Filter re-inlines the chunker below the Generate") {
    val dir = "/root/testdata/sf0.001"
    val qe = SparkEntry.queries("q_cdc_dedup")(spark, dir).queryExecution
    // InferFiltersFromGenerate + pushdown would plant a Filter whose
    // condition contains the whole HOF chunker (measured 35s of 39s at
    // sf0.1) — posexplode_outer keeps the rule off; nothing may regress
    val offending = qe.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("lambdafunction") => f
    }
    assert(offending.isEmpty,
      s"HOF expression re-inlined into a Filter:\n${offending.mkString}")
  }

  test("q_heavy_hitters: candidates broadcast, exact pass never shuffles the key space") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("misra_gries"),
      s"expected the Misra-Gries partial aggregate in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the O(k) candidate table should broadcast to the token scan in:\n$plan")
  }

  test("q_centroid_cosine: vectors aggregate in-row, no Generate before the sums") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_centroid_cosine")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("array_sum_fp"),
      s"expected the in-row elementwise-sum aggregate in:\n$plan")
    assert(!plan.contains("Generate"),
      "per-component explode would push d x the rows through the exchange")
  }

  test("q_incremental_cdc: the batch side builds, the store side streams") {
    val dir = "/root/testdata/sf0.001"
    // AQE off only for the inspection — the adaptive wrapper hides the
    // exchange subtrees from collect() until stages materialize
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries("q_incremental_cdc")(spark, dir).queryExecution
      val bcast = qe.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      // every broadcast build side must derive from the batch's in-row
      // chunker (Generate) — the corpus-scale store (the distinct-hash
      // aggregate over the standing corpus) must never be the build side
      assert(bcast.nonEmpty, s"no broadcast join planned:\n${qe.executedPlan}")
      bcast.foreach { b =>
        val sub = b.child.treeString
        assert(sub.contains("Generate") && sub.contains("pmod(doc_id"),
          s"the store must never be the build side:\n$sub")
        assert(!sub.contains("pmod(doc_id#") || sub.contains("= 0"),
          s"build side is not the batch partition:\n$sub")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("tokenizer applies: the model join rides the size-gate seam, both pins plannable") {
    // The per-distinct-word segment/walk tables Heaps-grow with corpus
    // vocabulary, so the applies must NOT hard-broadcast them (the r14
    // verdict finding): default = unhinted (AQE measures the table's
    // actual size), Some(true) pins BroadcastHashJoin, Some(false) pins
    // the shuffle join — and all three modes return identical rows (the
    // seam is a physical-plan choice, never a semantics one).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame): (String, Set[String]) = {
      val rows = df.collect().map(_.toString).toSet // settle AQE's final plan
      (df.queryExecution.executedPlan.toString, rows)
    }
    for ((fam, f) <- Seq[(String, Option[Boolean] => org.apache.spark.sql.DataFrame)](
      "unigram" -> (m => graft.text.Unigram.unigramApply(docs, "doc_id", "text",
        broadcastModel = m)),
      "wordpiece" -> (m => graft.text.WordPiece.wordpieceApply(docs, "doc_id", "text",
        broadcastModel = m)))) {
      val (pBc, rBc) = run(f(Some(true)))
      assert(pBc.contains("BroadcastHashJoin"),
        s"$fam: Some(true) must pin the broadcast join:\n$pBc")
      val (pSh, rSh) = run(f(Some(false)))
      assert(pSh.contains("ShuffledHashJoin"),
        s"$fam: Some(false) must pin the shuffle join:\n$pSh")
      val (_, rDef) = run(f(None))
      assert(rDef == rBc && rDef == rSh,
        s"$fam: the seam changed results across modes")
      // the default mode adds NO hint of its own: the model-internal
      // broadcasts (vocab-sized, legitimate) inline into the analyzed
      // plan, so assert by COUNT — each pinned mode carries exactly one
      // ResolvedHint more than the default (AQE may still CHOOSE to
      // broadcast the default's join; that is the point of the seam)
      def hints(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }.size
      val base = hints(f(None))
      assert(hints(f(Some(true))) == base + 1 && hints(f(Some(false))) == base + 1,
        s"$fam: default mode must leave the apply join unhinted " +
          s"(default=$base pinned=${hints(f(Some(true)))})")
    }
  }

  test("rank/skyline pipelines pin ONE partition-id frame (materialized, cache-read)") {
    // globalRankByKey/skyline2d put a NONDETERMINISTIC column
    // (spark_partition_id over a range exchange whose boundaries are
    // SAMPLED per instantiation) under two consumers — the local window
    // and a broadcast offsets/maxima table. If the subtree instantiates
    // twice (a cold-plan broadcast race defeats exchange reuse), the two
    // samples differ and offsets join ranks from a DIFFERENT
    // partitioning: corrupt global ranks. Observed ONCE as quintile 6/5
    // in a full 258-query sf0.1 run, unreproducible in isolation — so
    // the guard is structural, not a repro test: the pid frame must be
    // eagerly materialized (one build per quint/skyline call) and both
    // consumers must read it through the cache.
    val dir = "/root/testdata/sf0.001"
    spark.catalog.clearCache(); Caches.release()
    val before = Caches.builtCount
    val rfm = SparkEntry.queries("q_rfm_segments")(spark, dir)
    assert(rfm.collect().length > 0)
    assert(Caches.builtCount - before == 3,
      s"expected 3 materialized rank partitionings (rec/freq/mon), got ${Caches.builtCount - before}")
    assert(rfm.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "the pid frame must be consumed through the cache, not re-instantiated")
    val sky = SparkEntry.queries("q_pareto_front")(spark, dir)
    assert(sky.collect().length > 0)
    assert(sky.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "skyline2d's pid frame must be consumed through the cache")
    spark.catalog.clearCache(); Caches.release()
  }

  test("q_dedup_eval: shared dedup artifacts build exactly once across the eval pair") {
    // The truth (PPJoin) and candidate (LSH banding) pipelines must ride
    // the SAME persisted shingle-set table, and the md5 signature pass
    // must materialize into ONE bucket table — if either pipeline drifts
    // to its own plan, the artifact count exposes it (the r9 regression
    // shape: every consumer re-paying the signature pass).
    spark.catalog.clearCache()
    Caches.release()
    SparkEntry.queries("q_dedup_eval")(spark, "/root/testdata/sf0.001").count()
    // exactly: shingle sets + PPJoin order index + LSH bucket table
    assert(Caches.builtCount == 3,
      s"expected 3 distinct persisted artifacts, got ${Caches.builtCount}")
    spark.catalog.clearCache()
    Caches.release()
    SparkEntry.queries("q_minhash_lsh")(spark, "/root/testdata/sf0.001").count()
    // exactly: shingle sets + LSH bucket table (no order index on this path)
    assert(Caches.builtCount == 2,
      s"expected 2 distinct persisted artifacts, got ${Caches.builtCount}")
  }

  test("q_dsir_weights: bounded top-K selection, broadcast weight table, one profile build") {
    val dir = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    Caches.release()
    val before = Caches.builtCount
    val q = SparkEntry.queries("q_dsir_weights")(spark, dir)
    assert(q.collect().nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K selection must be bounded per-partition heaps in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the O(nBuckets) weight table must broadcast onto the doc profile")
    // the doc×bucket profile is ONE persisted artifact shared by the
    // distribution build and the scoring pass
    assert(Caches.builtCount - before == 1,
      s"expected exactly one materialized artifact, got ${Caches.builtCount - before}")
    spark.catalog.clearCache()
    Caches.release()
  }

  test("q_lm_bucket: every window runs over the score histogram, never a language stratum") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    val lp = SparkEntry.queries("q_lm_bucket")(spark, dir)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "the tertile boundaries come from windowed cumulative sums")
    wins.foreach { w =>
      // immediately below each window there must be the (lang, score)
      // histogram aggregate — the window input is score-cardinality-
      // bounded, not corpus-bounded
      val histBelow = w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.size == 2 => a
      }
      assert(histBelow.isDefined,
        s"window not anchored on the 2-key histogram aggregate:\n$w")
    }
    spark.catalog.clearCache()
    Caches.release()
  }

  test("q_dataset_card: the whole card derives from a single documents scan") {
    val dir = "/root/testdata/sf0.001"
    val scans = SparkEntry.queries("q_dataset_card")(spark, dir)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(scans.length == 1,
      s"expected one corpus relation leaf, got ${scans.length}:\n$scans")
  }

  test("q_vocab_coverage: the V-row vocab broadcasts; the token stream never shuffles for the join") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_vocab_coverage")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the fixed-size vocab must broadcast onto the token stream in:\n$plan")
  }

  test("q_revenue_band: all three predicates reach the parquet scan, schema pruned") {
    val dir = "/root/testdata/sf0.001"
    // the plan STRING elides long PushedFilters lists — read the scan's
    // metadata directly (AQE off for the inspection: the adaptive
    // wrapper hides the scan behind leaf query stages, the DPP-test
    // precedent)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scan = try SparkEntry.queries("q_revenue_band")(spark, dir)
      .queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec leaf"))
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val pushed = scan.metadata("PushedFilters")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(f), s"predicate $f not pushed: $pushed")
    // the projection must prune to the 4 referenced columns
    assert(scan.metadata("ReadSchema").startsWith(
      "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:"),
      s"scan not column-pruned: ${scan.metadata("ReadSchema")}")
  }

  test("q_big_orders: top-100 runs as TakeOrderedAndProject, never a global sort") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_big_orders")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected bounded top-k in:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      "a LIMIT-bounded query must not range-exchange the corpus")
  }

  test("q_grouped_median: range exchange, no PARTITION-BY-group data window") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_grouped_median")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"expected the composite-key range rank exchange in:\n$plan")
    // the only windows allowed are the per-partition local rank and the
    // width-bounded offset window — never one keyed on the GROUP column
    assert(!plan.contains("windowspecdefinition(g#"),
      s"a per-group data window sneaked in:\n$plan")
  }

  test("q_simhash64_pairs: narrow signature map, equi-join banding, no nested loop") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q_simhash64_pairs")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the signature is a per-row expression riding the scan's project —
    // any aggregate/explode before the banding means the builtin-chain
    // shuffle shape leaked back in
    assert(plan.contains("simhash64_fp"),
      s"expected the native signature expression in:\n$plan")
    // candidates must come from the (chunk, bits) equi-join — a nested
    // loop here is the n² cross product the banding exists to avoid
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"banding degenerated to a nested loop:\n$plan")
    // gate corpus (500 docs) sizes to width 14 → 5 chunks
    assert(graft.dedup.Dedup.simhash64BandWidth(500, 3) == 14)
  }

  test("q_cms_auto: the sketch build is one map-combining aggregate at the derived width") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q_cms_auto")(spark, dir)
    assert(q.collect().nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    // counters reduce map-side: partial_count before the exchange
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"expected map-side partial aggregation in:\n$plan")
    // the gate corpus lands the width floor, and the gated column
    // carries it — a silent derivation change breaks here before the
    // oracle even runs
    assert(q.select("width").distinct().collect().map(_.getInt(0)).toSeq == Seq(2048))
    spark.catalog.clearCache()
    Caches.release()
  }

  test("every unpartitioned window sits on a statically bounded input") {
    // The bench tail floods dozens of benign "WindowExec: No Partition
    // Defined" warnings from bounded windows (post-limit top-k tables,
    // calendar/model-sized aggregates, per-partition offset frames) —
    // noise that would mask a genuinely mis-routed CORPUS-sized global
    // window at a glance (the r15 verdict's residual). Sweep the whole
    // registry: every Window node with an empty partitionSpec must have
    // a bounding construct BELOW it — an Aggregate (every legit site
    // aggregates to day/model/group cardinality first) or a Limit. A
    // raw-scan-fed global window has neither and fails here before it
    // ever ships. (An aggregate keyed by a corpus-cardinality column
    // would still pass this check — the per-site scaladoc bounds remain
    // the semantic authority; this guard catches the structural shape.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    def bounded(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => planCheckable(name) }
      .flatMap { case (name, fn) =>
        fn(spark, dir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => name
        }
      }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded inputs in: $offenders")
    spark.catalog.clearCache()
    Caches.release()
  }

  test("no registry query plans a CartesianProduct (except the explicit cross join)") {
    val allowed = Set("q_cross_join")
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => planCheckable(name) && !allowed(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
    spark.catalog.clearCache()
    Caches.release()
  }
}
