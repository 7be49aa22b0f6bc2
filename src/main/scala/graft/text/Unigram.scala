package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model), hard-EM (Viterbi) variant: start from a
  * substring-candidate vocabulary, alternate (a) best segmentation of
  * every word under current piece costs with (b) re-estimation + pruning
  * of the piece inventory from segmentation usage. The mainstream
  * tokenizer family next to BPE ([[Search.bpeTrainMerges]]); fertility
  * (X159) and coverage (X168) comparisons across the two families is the
  * production decision this enables.
  *
  * Scale shape — the whole EM runs on MODEL-sized tables: segmentation
  * operates on the DISTINCT-WORD table (vocabulary-bounded by Heaps'
  * law, orders below corpus size) with per-word counts carrying corpus
  * mass, so the corpus is scanned once for word counts and once per
  * APPLY join-back; every EM round is a few joins between the word table
  * and the piece table (both model-sized, broadcast-friendly), iterated
  * driver-side like the Lloyd/BPE loops. No UDFs: the Viterbi DP and its
  * backtrace are unrolled in-row as codegen expressions over a per-word
  * (position, length) → cost map.
  *
  * Numeric discipline: piece costs are fixed-point integers
  * cost_fp6 = round(−ln(c/total)·1e6) — the one transcendental follows
  * the audited q_tfidf pattern (a cross-engine flip needs the product
  * within a libm ulp of a .5 quantization boundary); every DP sum and
  * comparison after quantization is exact BIGINT arithmetic, and
  * segmentation ties are broken deterministically (smallest piece length
  * at each backtrace step from the word's END — the lexicographic
  * minimum over min-cost paths, which the DuckDB oracle reproduces by
  * enumerating paths and ranking by (cost, length-list)).
  */
object Unigram {

  /** Infinity sentinel for unreachable DP states — far above any real
    * path cost (≤ maxWordLen · ~40e6) yet small enough that a few
    * accidental additions stay below Long.MaxValue. */
  val Inf = 1000000000000000L

  private def costFp6(c: Column, total: Column): Column =
    round(-log(c.cast("double") / total.cast("double")) * 1e6).cast("long")

  /** Distinct words with corpus counts — the table every EM step runs
    * on. One map-side-combining exchange to vocabulary-bounded rows.
    * Memoized + persisted per input plan: the trained-vocab build and
    * the corpus apply both need it, and the corpus should pay the scan
    * once per epoch, not once per consumer. */
  def wordCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Caches.memo(
      ("unigramWords", docs.queryExecution.logical.canonicalized, textCol)) {
      graft.Caches.materialize(
        docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c_w"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  /** All (word, position p, piece length l ≤ maxPieceLen) substring
    * occurrences weighted by word count — both the seed-vocabulary
    * counter and the DP's candidate lattice come from this shape. */
  private def substringLattice(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("w"), col("c_w"),
        explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("c_w"), col("p"),
        explode(sequence(lit(1), least(lit(maxPieceLen), col("p")))).as("l"))
      .withColumn("piece", expr("substring(w, p - l + 1, l)"))

  /** Seed vocabulary: every substring of length 1..maxPieceLen weighted
    * by occurrence × word count; multi-char pieces need `minCount`
    * corpus mass, single characters are ALWAYS kept (they guarantee
    * every word segments — SentencePiece's required-character set). */
  def seedVocab(words: DataFrame, maxPieceLen: Int, minCount: Long): DataFrame = {
    val counts = substringLattice(words, maxPieceLen)
      .groupBy(col("piece")).agg(sum(col("c_w")).as("c"))
      .filter(length(col("piece")) === 1 || col("c") >= minCount)
    withCosts(counts)
  }

  /** Attach cost_fp6 = round(−ln(c/Σc)·1e6). The total rides a global
    * window instead of a driver collect — one fewer action per EM
    * round, and the single-partition window only ever sees the
    * model-sized piece table, never the corpus. */
  private def withCosts(counts: DataFrame): DataFrame = {
    val total = sum(col("c")).over(Window.partitionBy())
    counts.select(col("piece"), col("c"),
      costFp6(col("c"), total).as("cost_fp6"))
  }

  /** Viterbi segmentation of every distinct word under `vocab`:
    * (w, c_w, pieces) with `pieces` the min-cost segmentation,
    * ties broken by the smallest piece length at each backtrace step
    * from the END of the word.
    *
    * The DP and its backtrace are each ONE `aggregate` higher-order
    * expression iterating `length(w)` steps over the per-word
    * candidate-cost map — zero extra exchanges beyond the one vocab
    * join, and (the round-11 lesson) ONE Project each instead of
    * 2·maxWordLen chained `withColumn` rounds: the unrolled chain cost
    * ~5 s of Catalyst analysis/codegen PER segmentation pass at ANY
    * data size (the work is per-plan, not per-row), where this form
    * plans in milliseconds and the interpreted HOF eval is O(len·
    * maxPieceLen) per DISTINCT word — model-sized, never corpus-sized.
    */
  def viterbiSegments(words: DataFrame, vocab: DataFrame,
                      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val keyOf = (p: Column, l: Column) => (p * (maxPieceLen + 1) + l).cast("int")
    val cand = substringLattice(words, maxPieceLen)
      .join(broadcast(vocab.select(col("piece"), col("cost_fp6"))), Seq("piece"))
      .select(col("w"), col("c_w"),
        keyOf(col("p"), col("l")).as("k"), col("cost_fp6"))
    val wmap = cand.groupBy(col("w"), col("c_w"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("cost_fp6")))).as("m"))
    // dp(i) = element_at(dparr, i+1): cheapest segmentation of the
    // first i characters; dp(0) = 0. Unreachable = Inf (cannot occur
    // for i ≤ len while single chars stay in the vocabulary).
    // try_element_at, not element_at: ANSI mode (the Spark 4 default)
    // raises on a missing map key, and "piece not in vocabulary" is a
    // normal lattice state — NULL → Inf via coalesce.
    val dp = wmap.withColumn("dparr",
      aggregate(
        sequence(lit(1), length(col("w"))),
        array(lit(0L)),
        (acc, p) => concat(acc, array(
          array_min(transform(
            sequence(lit(1), least(lit(maxPieceLen), p)),
            l => coalesce(
              try_element_at(acc, p - l + 1) +
                try_element_at(col("m"), keyOf(p, l)),
              lit(Inf))))))))
    // Greedy backtrace from pos = len: at each landed position take the
    // SMALLEST l whose step reproduces dp(pos) — the lexicographically
    // minimal length sequence (read from the end) among min-cost
    // segmentations (UnigramSpec proves the equivalence by brute-force
    // path enumeration). filter() preserves order, so element 1 is the
    // smallest valid l; a word of length L finishes in ≤ L steps, so
    // iterating length(w) times always drains pos to 0.
    val bt = dp.withColumn("pieces",
      aggregate(
        sequence(lit(1), length(col("w"))),
        struct(length(col("w")).as("pos"),
          array().cast("array<string>").as("ps")),
        (st, _) => {
          val pos = st.getField("pos")
          val lstar = try_element_at(
            filter(
              sequence(lit(1), lit(maxPieceLen)),
              l => pos >= l && coalesce(
                try_element_at(col("dparr"), pos - l + 1) +
                  try_element_at(col("m"), keyOf(pos, l)) ===
                  try_element_at(col("dparr"), pos + 1),
                lit(false))),
            lit(1))
          when(pos > 0,
            struct(
              (pos - lstar).as("pos"),
              concat(array(col("w").substr(pos - lstar + 1, lstar)),
                st.getField("ps")).as("ps")))
            .otherwise(st)
        },
        st => st.getField("ps")))
    // Returned LAZY: every call site (usage aggregation per EM round,
    // the apply join-back) has exactly one consumer, and the HOF plan
    // is shallow enough that re-planning is milliseconds — an eager
    // persist here would only add a per-build action constant.
    bt.select(col("w"), col("c_w"), col("pieces"))
  }

  /** One hard-EM round: segment every word, re-count piece usage with
    * corpus mass, prune multi-char pieces below `minCount` usage, floor
    * every single character at count 1 (the required-character set must
    * survive with a finite cost even when unused this round), and
    * re-derive costs from the new totals. */
  def emRound(words: DataFrame, vocab: DataFrame, maxPieceLen: Int,
              maxWordLen: Int, minCount: Long): DataFrame = {
    val usage = viterbiSegments(words, vocab, maxPieceLen, maxWordLen)
      .select(col("c_w"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("c_w")).as("u"))
    val singles = vocab.filter(length(col("piece")) === 1)
      .select(col("piece"))
      .join(usage, Seq("piece"), "left")
      .select(col("piece"), greatest(coalesce(col("u"), lit(0L)), lit(1L)).as("c"))
    val multis = usage
      .filter(length(col("piece")) > 1 && col("u") >= minCount)
      .select(col("piece"), col("u").as("c"))
    withCosts(singles.unionByName(multis))
  }

  /** Trained unigram vocabulary: `rounds` hard-EM rounds from the seed,
    * then the final inventory cut to all single characters plus the
    * top-(vocabSize − #singles) multi-char pieces by (count DESC, piece
    * ASC). Memoized + persisted per (input plan, params) epoch — the
    * artifact-store discipline of the BPE chain: train row, apply row
    * and any fertility audit share one build. Returns
    * (piece, n_used, cost_fp6). */
  def unigramTrain(docs: DataFrame, idCol: String, textCol: String,
                   maxPieceLen: Int = 4, maxWordLen: Int = 16,
                   rounds: Int = 2, minCount: Long = 2,
                   vocabSize: Int = 64): DataFrame =
    graft.Caches.memo(
      ("unigramTrain", docs.queryExecution.logical.canonicalized,
        idCol, textCol, maxPieceLen, maxWordLen, rounds, minCount, vocabSize)) {
      require(rounds >= 1 && maxPieceLen >= 1 && vocabSize >= 1)
      localModel(docs, idCol, textCol, maxPieceLen, maxWordLen, rounds,
        minCount, vocabSize) match {
        case Some(vocab) =>
          val sess = docs.sparkSession
          import sess.implicits._
          vocab.toSeq.toDF("piece", "n_used", "cost_fp6")
        case None => unigramTrainDistributed(docs, idCol, textCol,
          maxPieceLen, maxWordLen, rounds, minCount, vocabSize)
      }
    }

  /** Driver-side cutover (r18): when the distinct words fit under the
    * driver-collect bound ([[graft.Collect]], shared with the dedup
    * union-find) the whole EM runs on the collected word table. The
    * distributed loop below
    * is the 100 TB path and is BIT-IDENTICAL (TokenizerLocalSpec pins
    * path-vs-path equality including unicode, ties and fence errors);
    * the cutover removes ~19 driver jobs of scheduling/planning
    * constants per cold chain (measured 4.65 s wall vs 1.03 s stage
    * time at sf0.1). Returns None when the vocabulary exceeds the
    * bound. */
  private def localModel(docs: DataFrame, idCol: String, textCol: String,
                         maxPieceLen: Int, maxWordLen: Int, rounds: Int,
                         minCount: Long, vocabSize: Int)
  : Option[Array[(String, Long, Long)]] =
    graft.Caches.memo(
      ("unigramLocalModel", docs.queryExecution.logical.canonicalized,
        idCol, textCol, maxPieceLen, maxWordLen, rounds, minCount, vocabSize)) {
      LocalTok.collectedWords(wordCounts(docs, idCol, textCol)).map(wc =>
        LocalTok.unigramTrainLocal(wc, maxPieceLen, maxWordLen, rounds,
          minCount, vocabSize))
    }

  private def unigramTrainDistributed(docs: DataFrame, idCol: String,
                                      textCol: String, maxPieceLen: Int,
                                      maxWordLen: Int, rounds: Int,
                                      minCount: Long, vocabSize: Int)
  : DataFrame = {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // The engine's HOF-form DP handles ANY word length; the bound
      // only protects comparability with the oracle mirror (which
      // unrolls maxWordLen CTE rounds). Enforced as an in-plan
      // raise_error riding the seed scan — a violating corpus fails
      // the first build action instead of paying a dedicated
      // driver-side probe job per train.
      // wordCounts materializes eagerly HERE, outside the model-loop
      // conf scope below: its groupBy is the one corpus-sized exchange
      // of the chain and must keep the session width and AQE.
      val words = wordCounts(docs, idCol, textCol)
      val wordsG = words.withColumn("w",
        when(length(col("w")) > maxWordLen,
          raise_error(concat(
            lit(s"unigramTrain: word longer than maxWordLen=$maxWordLen "
              + "(the oracle mirror unrolls that many rounds): "),
            col("w"))).cast("string"))
          .otherwise(col("w")))
      // The EM loop itself is model-sized end to end (every table is
      // vocabulary-bounded), so it runs under the loop conf scope: AQE
      // off + data-sized shuffle width — measured 4.6 → ~2.5 s cold at
      // sf0.1 (see Caches.withModelLoopConf).
      graft.Caches.withModelLoopConf(docs.sparkSession, graft.Par.widthFor(words)) {
        // Per-round eager persistence with lineage truncation (the BPE/CC
        // loop discipline): round k's vocabulary has two consumers inside
        // round k+1 (the cand broadcast and the singles filter) and the
        // final cut reads it three ways — measured truly cold (all caches
        // released first), lazy rounds re-drive the nested chain ~2.5×
        // slower despite ReuseExchange.
        var vocab = graft.Caches.materialize(
          seedVocab(wordsG, maxPieceLen, minCount).persist(lvl))
        for (_ <- 1 to rounds) {
          val prev = vocab
          vocab = graft.Caches.materialize(
            emRound(words, prev, maxPieceLen, maxWordLen, minCount).persist(lvl))
          prev.unpersist(false)
        }
        // Final inventory cut, fully lazy: all singles plus the top
        // (vocabSize − #singles) multi-char pieces by (count DESC, piece).
        // The singles count is a broadcast 1-row aggregate, not a driver
        // collect; the rank window runs over the model-sized piece table.
        val singles = vocab.filter(length(col("piece")) === 1)
        val multis = vocab.filter(length(col("piece")) > 1)
          .withColumn("rn", row_number().over(
            Window.partitionBy().orderBy(col("c").desc, col("piece"))))
          .crossJoin(broadcast(singles.agg(count(lit(1)).as("n_singles"))))
          .filter(col("rn") <= lit(vocabSize) - col("n_singles"))
          .drop("rn", "n_singles")
        graft.Caches.materialize(
          singles.unionByName(multis)
            .select(col("piece"), col("c").as("n_used"), col("cost_fp6"))
            .persist(lvl))
      }
    }

  /** Corpus-wide tokenizer APPLY — per-document piece statistics under
    * the trained vocabulary: the per-word segment lengths come from one
    * Viterbi pass over the DISTINCT-word table and join back onto the
    * token stream, so the corpus pays one scan regardless of vocabulary
    * size. The join-back routes through the shared [[Search.sizeGated]]
    * seam: the segment table has one row per DISTINCT WORD, which grows
    * with corpus vocabulary (Heaps' law), so `broadcastModel = None`
    * (default) lets AQE measure its actual size — broadcast when it
    * fits, co-partitioned shuffle join when the corpus's vocabulary
    * outgrows the driver. Returns (id, n_words, n_pieces,
    * pieces_per_word_permille). */
  def unigramApply(docs: DataFrame, idCol: String, textCol: String,
                   maxPieceLen: Int = 4, maxWordLen: Int = 16,
                   rounds: Int = 2, minCount: Long = 2,
                   vocabSize: Int = 64,
                   broadcastModel: Option[Boolean] = None): DataFrame = {
    val vocab = unigramTrain(docs, idCol, textCol, maxPieceLen, maxWordLen,
      rounds, minCount, vocabSize)
      .withColumnRenamed("n_used", "c")
    val words = wordCounts(docs, idCol, textCol)
    // The per-word segment-length table is memoized + materialized under
    // the model-loop conf scope: it is vocabulary-sized (one row per
    // distinct word), has TWO consumers since the three-family
    // comparison row landed (the apply and the X180 aggregate), and
    // pre-building it keeps the big Viterbi HOF trees out of the
    // corpus-facing apply query's plan — the apply then joins a cached
    // table, and AQE sizes a trivial join instead of the DP expressions.
    val segLen = graft.Caches.memo(
      ("unigramSegLen", docs.queryExecution.logical.canonicalized,
        idCol, textCol, maxPieceLen, maxWordLen, rounds, minCount, vocabSize)) {
      localModel(docs, idCol, textCol, maxPieceLen, maxWordLen, rounds,
        minCount, vocabSize) match {
        case Some(model) =>
          // Driver-side walk under the local model (r18 cutover — the
          // unigramTrain reasoning): the corpus-facing join below is
          // untouched; only the model-sized per-word table's build moves
          // off the cluster.
          val wc = LocalTok.collectedWords(words).get
          val sess = docs.sparkSession
          import sess.implicits._
          LocalTok.unigramSegLensLocal(wc, model, maxPieceLen)
            .toSeq.toDF("w", "n_p")
        case None =>
          graft.Caches.withModelLoopConf(docs.sparkSession, graft.Par.widthFor(words)) {
            graft.Caches.materialize(
              viterbiSegments(words, vocab, maxPieceLen, maxWordLen)
                .select(col("w"), size(col("pieces")).cast("long").as("n_p"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
      }
    }
    docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(Search.sizeGated(segLen, broadcastModel), Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_p")).as("n_pieces"))
      .select(col("id"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000 div n_words").as("pieces_per_word_permille"))
  }
}
