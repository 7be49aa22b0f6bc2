package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — training (Schuster & Nakajima 2012, "Japanese
  * and Korean voice search", ICASSP; the BERT tokenizer family) and the
  * greedy longest-match-first apply (MaxMatch; Song et al. 2021,
  * arXiv:2012.15524 "Fast WordPiece Tokenization" describes the same
  * apply algorithm). Completes the tokenizer triad next to word-level
  * BPE ([[Search.bpeTrainMerges]], X117) and the unigram LM
  * ([[Unigram.unigramTrain]], X174): the production tokenizer decision
  * compares fertility/coverage across exactly these three families.
  *
  * Training is greedy agglomerative like BPE but ranks candidate pairs
  * by LIKELIHOOD GAIN, score(a,b) = c_ab / (c_a · c_b) — the pair whose
  * merge most increases a unigram LM's corpus likelihood — instead of
  * raw pair frequency. It runs CHARACTER-level within words where the
  * X117 BPE runs word-level across them: each round re-counts units and
  * adjacent unit pairs (corpus-mass-weighted) over the DISTINCT-word
  * table, picks the max-score pair, and fuses it in-row with the same
  * guard-string `replace` discipline as the BPE loop.
  *
  * Scale shape — every EM structure is MODEL-sized: the loop runs on
  * the distinct-word table (Heaps-bounded, counts carry corpus mass;
  * shared memoized artifact [[Unigram.wordCounts]], so BPE/unigram/
  * wordpiece bill the corpus scan once per epoch); each round is two
  * map-side-combining aggregations to O(units)/O(observed pairs) rows,
  * two broadcast joins of those model-sized tables, and a 1-row
  * TakeOrderedAndProject argmax collect (the Lloyd/BPE bounded-collect
  * contract). The apply is one broadcast join of per-word piece counts
  * back onto the token stream — the corpus pays ONE scan regardless of
  * vocabulary size.
  *
  * Numeric discipline: the score is exact fixed-point integer
  * score_fp12 = (c_ab · 10¹²) div (c_a · c_b) with DECIMAL(38,0)
  * intermediates (oracle: HUGEINT — the X160/X173 promotion: c_a · c_b
  * wraps BIGINT past ~3·10⁹ corpus tokens) and a BIGINT result
  * (c_ab ≤ min(c_a, c_b) bounds the quotient by 10¹²); argmax ties
  * break on (w1, w2) lexicographically. Zero transcendentals anywhere —
  * unlike the unigram costs, the whole model is engine-exact.
  *
  * Merged units are capped at `maxPieceLen` characters (pairs whose
  * fusion would exceed it are not merge candidates): the apply-side
  * match lattice and its DuckDB oracle mirror enumerate piece lengths
  * 1..maxPieceLen, so training may not mint units the matcher could
  * never see. Word-initial vs continuation ("##") pieces are a display
  * convention this inventory does not distinguish — the trained units
  * are position-agnostic, as BPE-derived WordPiece vocabularies are;
  * the seam to split the inventory by position is the pair histogram's
  * group key, not the loop structure.
  */
object WordPiece {

  /** Fixed-point scale for the likelihood-gain score. */
  val ScoreScale = 1000000000000L // 1e12

  /** Distinct words with corpus counts, fenced at `maxWordLen` with an
    * in-plan raise_error (the unigram fence: the engine's HOF walk
    * handles any length, the bound only protects comparability with
    * the oracle mirror's maxWordLen unrolled rounds). */
  private def fencedWords(docs: DataFrame, idCol: String, textCol: String,
                          maxWordLen: Int): DataFrame =
    Unigram.wordCounts(docs, idCol, textCol).withColumn("w",
      when(length(col("w")) > maxWordLen,
        raise_error(concat(
          lit(s"wordpieceTrain: word longer than maxWordLen=$maxWordLen "
            + "(the oracle mirror unrolls that many greedy-match rounds): "),
          col("w"))).cast("string"))
        .otherwise(col("w")))

  /** Shared train loop: returns (merge table, piece vocabulary).
    * Memoized per (input plan, params) release-epoch — the train row,
    * the corpus apply, and any cross-family fertility audit share one
    * build (the BPE-chain artifact-store discipline). */
  private def trainLoop(docs: DataFrame, idCol: String, textCol: String,
                        nMerges: Int, maxPieceLen: Int, maxWordLen: Int,
                        minPairCount: Long, charMinCount: Long)
  : (DataFrame, DataFrame) =
    graft.Caches.memo(
      ("wordpieceTrainLoop", docs.queryExecution.logical.canonicalized,
        idCol, textCol, nMerges, maxPieceLen, maxWordLen, minPairCount,
        charMinCount)) {
      trainLoopUncached(docs, idCol, textCol, nMerges, maxPieceLen,
        maxWordLen, minPairCount, charMinCount)
    }

  /** Driver-side cutover (r18, the unigram/union-find precedent): when
    * the distinct words fit under the driver-collect bound
    * ([[graft.Collect]]) the merge loop runs on the collected word
    * table — bit-identical (fences,
    * argmax tie-break in UTF-8 byte order, exact BigInt score, replace
    * fuse semantics; TokenizerLocalSpec pins path-vs-path equality).
    * None = vocabulary over the bound → distributed loop unchanged. */
  private def localLoop(docs: DataFrame, idCol: String, textCol: String,
                        nMerges: Int, maxPieceLen: Int, maxWordLen: Int,
                        minPairCount: Long, charMinCount: Long)
  : Option[(Seq[(Long, String, String, Long, Long)], Seq[String])] =
    graft.Caches.memo(
      ("wordpieceLocalLoop", docs.queryExecution.logical.canonicalized,
        idCol, textCol, nMerges, maxPieceLen, maxWordLen, minPairCount,
        charMinCount)) {
      LocalTok.collectedWords(
        Unigram.wordCounts(docs, idCol, textCol)).map(wc =>
        LocalTok.wordpieceTrainLocal(wc, nMerges, maxPieceLen, maxWordLen,
          minPairCount, charMinCount))
    }

  private def trainLoopUncached(docs: DataFrame, idCol: String,
                                textCol: String, nMerges: Int,
                                maxPieceLen: Int, maxWordLen: Int,
                                minPairCount: Long, charMinCount: Long)
  : (DataFrame, DataFrame) = {
    val sess = docs.sparkSession
    require(nMerges >= 1 && maxPieceLen >= 2 && maxWordLen >= 1,
      s"wordpieceTrain: nMerges=$nMerges maxPieceLen=$maxPieceLen " +
        s"maxWordLen=$maxWordLen out of range")
    localLoop(docs, idCol, textCol, nMerges, maxPieceLen, maxWordLen,
      minPairCount, charMinCount) match {
      case Some((mergeRows, vocabPieces)) =>
        import sess.implicits._
        return (
          mergeRows.toDF("merge_rank", "w1", "w2", "pair_count", "score_fp12"),
          vocabPieces.toDF("piece"))
      case None => ()
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // fencedWords materializes the corpus-sized wordCounts exchange
    // eagerly HERE (session width + AQE); everything after is
    // vocabulary-bounded and runs under the model-loop conf scope
    // (AQE off + data-sized width — see Caches.withModelLoopConf).
    val words = fencedWords(docs, idCol, textCol, maxWordLen)
    graft.Caches.withModelLoopConf(sess,
      graft.Par.widthFor(Unigram.wordCounts(docs, idCol, textCol))) {
      trainLoopScoped(words, sess, nMerges, maxPieceLen, minPairCount,
        charMinCount, lvl)
    }
  }

  private def trainLoopScoped(words: DataFrame,
                              sess: org.apache.spark.sql.SparkSession,
                              nMerges: Int, maxPieceLen: Int,
                              minPairCount: Long, charMinCount: Long,
                              lvl: org.apache.spark.storage.StorageLevel)
  : (DataFrame, DataFrame) = {
    // Guard-string precondition (the BPE loop's): a word CONTAINING
    // '(' or ')' would corrupt the unit boundaries. Reject loudly —
    // fused into the same action that materializes the round-0 corpus.
    val guarded = words.withColumn("w",
      when(col("w").rlike("[()]"),
        raise_error(concat(
          lit("wordpieceTrain: word contains '(' or ')' which collide "
            + "with the guard-string unit delimiters; strip or remap "
            + "upstream (e.g. TextOps.normalize): "), col("w")))
          .cast("string"))
        .otherwise(col("w")))
    // Round-0 corpus: each distinct word as "(c)(c)…(c)" — built with
    // the same substr semantics the oracle's substring() uses (split
    // on the empty pattern would cut UTF-16 surrogate pairs apart).
    var s = graft.Caches.track(graft.Caches.materialize(
      guarded.select(col("w"), col("c_w"),
        aggregate(sequence(lit(1), length(col("w"))), lit(""),
          (acc, i) => concat(acc, lit("("), col("w").substr(i, lit(1)),
            lit(")"))).as("s"))
        .persist(lvl)))
    // Action-count discipline (the unigram/q_unigram_apply lesson: the
    // loop's cost at ANY corpus size is its bounded materialization
    // actions, not data): (a) round 1's unit histogram IS the
    // corpus-mass-weighted character inventory, so it is persisted once
    // and serves as BOTH that round's score denominator table and the
    // apply vocabulary's character side — no separate charCounts pass;
    // (b) the fused corpus is NOT re-materialized every round — the
    // `replace` is a cheap narrow projection over the last checkpoint,
    // so rounds chain lazily and a checkpoint lands every `MatEvery`
    // rounds (each argmax then replays ≤ MatEvery−1 replaces over a
    // model-sized cached table, far cheaper than a count() job per
    // round). Measured at sf0.1: 10 merges 10.3 s → see commit.
    var charCounts: DataFrame = null
    var ckpt = s
    var sinceMat = 0
    val MatEvery = 4
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val units =
        if (charCounts == null) {
          charCounts = graft.Caches.track(graft.Caches.materialize(
            unitCounts(s).persist(lvl)))
          charCounts
        } else unitCounts(s)
      val pairs = tokensOf(s)
        .filter(size(col("tk")) >= 2)
        .select(col("c_w"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"),
          col("tk"))
        .select(element_at(col("tk"), col("i")).as("w1"),
          element_at(col("tk"), col("i") + 1).as("w2"), col("c_w"))
        .groupBy(col("w1"), col("w2")).agg(sum(col("c_w")).as("c_ab"))
        .filter(length(col("w1")) + length(col("w2")) <= maxPieceLen &&
          col("c_ab") >= minPairCount)
      val scored = pairs
        .join(broadcast(units.select(col("unit").as("w1"), col("c").as("c_a"))),
          Seq("w1"))
        .join(broadcast(units.select(col("unit").as("w2"), col("c").as("c_b"))),
          Seq("w2"))
        .withColumn("score_fp12",
          expr(s"CAST(CAST(c_ab AS DECIMAL(38,0)) * ${ScoreScale}L div " +
            "(CAST(c_a AS DECIMAL(38,0)) * CAST(c_b AS DECIMAL(38,0))) " +
            "AS BIGINT)"))
      val top = scored
        .orderBy(col("score_fp12").desc, col("w1"), col("w2"))
        .limit(1).select("w1", "w2", "c_ab", "score_fp12").collect()
      if (top.isEmpty) exhausted = true
      else {
        val w1 = top.head.getString(0)
        val w2 = top.head.getString(1)
        merges += ((r.toLong, w1, w2, top.head.getLong(2), top.head.getLong(3)))
        // Column-literal replace (never string-spliced SQL): fuses every
        // adjacent occurrence left-to-right, which for a = b runs IS the
        // greedy left-to-right merge order (the BPE apply reasoning).
        s = s.select(col("w"), col("c_w"),
          org.apache.spark.sql.functions.replace(col("s"),
            lit(s"($w1)($w2)"), lit(s"($w1$w2)")).as("s"))
        sinceMat += 1
        if (sinceMat == MatEvery && r < nMerges) {
          s = graft.Caches.track(graft.Caches.materialize(s.persist(lvl)))
          ckpt.unpersist(false)
          ckpt = s
          sinceMat = 0
        }
        r += 1
      }
    }
    import sess.implicits._
    val mergeDf = merges.result()
      .toDF("merge_rank", "w1", "w2", "pair_count", "score_fp12")
    // Apply vocabulary: characters with >= charMinCount corpus mass
    // (rarer characters fall to the word-level [UNK] path — the BERT
    // vocabulary's rare-character cut) plus every minted merge unit.
    val mergedUnits = mergeDf.select(concat(col("w1"), col("w2")).as("piece"))
      .distinct()
    val vocab = graft.Caches.materialize(
      charCounts.filter(col("c") >= charMinCount)
        .select(col("unit").as("piece"))
        .unionByName(mergedUnits)
        .persist(lvl))
    (mergeDf, vocab)
  }

  /** Interior token array of a guard-string corpus (w, c_w, s). */
  private def tokensOf(s: DataFrame): DataFrame =
    s.select(col("w"), col("c_w"),
      expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')").as("tk"))

  /** Corpus-mass-weighted unit histogram of a guard-string corpus. */
  private def unitCounts(s: DataFrame): DataFrame =
    tokensOf(s)
      .select(explode(col("tk")).as("unit"), col("c_w"))
      .groupBy(col("unit")).agg(sum(col("c_w")).as("c"))

  /** The learned merge table: (merge_rank, w1, w2, pair_count,
    * score_fp12) in merge order — the model artifact a production
    * tokenizer ships. */
  def wordpieceTrain(docs: DataFrame, idCol: String, textCol: String,
                     nMerges: Int = 20, maxPieceLen: Int = 6,
                     maxWordLen: Int = 16, minPairCount: Long = 2,
                     charMinCount: Long = 2): DataFrame =
    trainLoop(docs, idCol, textCol, nMerges, maxPieceLen, maxWordLen,
      minPairCount, charMinCount)._1

  /** Corpus-wide greedy longest-match-first apply — per-document piece
    * statistics under the trained vocabulary: (id, n_words, n_pieces,
    * n_unk_words, pieces_per_word_permille). A word any of whose
    * positions has NO vocabulary match maps to ONE [UNK] piece — the
    * word-level UNK of the original algorithm (not per-character
    * fallback). The per-word walk is ONE `aggregate` higher-order
    * expression over a per-word position → longest-match-length map
    * (the round-11 unigram lesson: an unrolled withColumn chain bills
    * seconds of Catalyst planning per pass at any data size); the
    * corpus-side work is one join of the per-word results onto the
    * token stream, routed through the shared [[Search.sizeGated]] seam
    * — the walked table has one row per DISTINCT WORD (Heaps-grows with
    * corpus vocabulary), so `broadcastModel = None` (default) lets AQE
    * measure: broadcast when it fits, co-partitioned shuffle join when
    * it doesn't. */
  def wordpieceApply(docs: DataFrame, idCol: String, textCol: String,
                     nMerges: Int = 20, maxPieceLen: Int = 6,
                     maxWordLen: Int = 16, minPairCount: Long = 2,
                     charMinCount: Long = 2,
                     broadcastModel: Option[Boolean] = None): DataFrame = {
    // Memoized + materialized under the model-loop conf scope (the
    // unigram segLen reasoning): the per-word walk table is model-sized,
    // shared by the apply row and the X180 family comparison, and
    // pre-building it keeps the walk HOFs out of the corpus query plan.
    val walked = graft.Caches.memo(
      ("wordpieceWalked", docs.queryExecution.logical.canonicalized,
        idCol, textCol, nMerges, maxPieceLen, maxWordLen, minPairCount,
        charMinCount)) {
      localLoop(docs, idCol, textCol, nMerges, maxPieceLen, maxWordLen,
        minPairCount, charMinCount) match {
        case Some((_, vocabPieces)) =>
          // Driver-side walk (r18 cutover): the corpus-facing join below
          // is untouched; only the model-sized per-word walk table's
          // build moves off the cluster.
          val wc = LocalTok.collectedWords(
            Unigram.wordCounts(docs, idCol, textCol)).get
          val sess = docs.sparkSession
          import sess.implicits._
          LocalTok.wordpieceWalkLocal(wc, vocabPieces.toSet, maxPieceLen)
            .toSeq.toDF("w", "n_p", "unk")
        case None =>
          graft.Caches.withModelLoopConf(docs.sparkSession,
            graft.Par.widthFor(Unigram.wordCounts(docs, idCol, textCol))) {
            graft.Caches.materialize(
              walkedWords(docs, idCol, textCol, nMerges, maxPieceLen,
                maxWordLen, minPairCount, charMinCount)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
      }
    }
    docs.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(Search.sizeGated(walked, broadcastModel), Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_p")).as("n_pieces"),
        sum(col("unk")).as("n_unk_words"))
      .select(col("id"), col("n_words"), col("n_pieces"), col("n_unk_words"),
        expr("n_pieces * 1000 div n_words").as("pieces_per_word_permille"))
  }

  /** Per-word greedy-walk results (w, n_p, unk) under the trained
    * vocabulary — the model-sized table [[wordpieceApply]] broadcasts. */
  private def walkedWords(docs: DataFrame, idCol: String, textCol: String,
                          nMerges: Int, maxPieceLen: Int, maxWordLen: Int,
                          minPairCount: Long, charMinCount: Long): DataFrame = {
    val (_, vocab) = trainLoop(docs, idCol, textCol, nMerges, maxPieceLen,
      maxWordLen, minPairCount, charMinCount)
    val words = fencedWords(docs, idCol, textCol, maxWordLen)
    // Longest vocabulary match per (word, start position): the lattice
    // enumerates lengths 1..maxPieceLen and keeps the max that joins —
    // model-sized (distinct words × positions), broadcast-joined vocab.
    val lmax = words
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("p") + 1))).as("l"))
      .withColumn("piece", col("w").substr(col("p"), col("l")))
      .join(broadcast(vocab), Seq("piece"))
      .groupBy(col("w"), col("p")).agg(max(col("l")).cast("int").as("lmax"))
    val wmap = lmax.groupBy(col("w"))
      .agg(map_from_entries(collect_list(
        struct(col("p").cast("int").as("k"), col("lmax").as("v")))).as("m"))
    // Words with zero matches anywhere (all characters rare) drop out
    // of the inner-joined lattice — LEFT join them back with an empty
    // map so the walk's first step takes the UNK arm.
    val walked = words.join(wmap, Seq("w"), "left")
      .withColumn("m", coalesce(col("m"), expr("CAST(map() AS MAP<INT,INT>)")))
      .withColumn("st",
        aggregate(
          sequence(lit(1), lit(maxWordLen)),
          struct(lit(1).cast("int").as("pos"), lit(0L).as("np"),
            lit(0L).as("unk")),
          (st, _) => {
            val pos = st.getField("pos")
            val lm = try_element_at(col("m"), pos)
            when(pos > length(col("w")), st)
              .otherwise(when(lm.isNull,
                struct((length(col("w")) + 1).cast("int").as("pos"),
                  lit(1L).as("np"), lit(1L).as("unk")))
                .otherwise(struct((pos + lm).cast("int").as("pos"),
                  (st.getField("np") + 1L).as("np"),
                  st.getField("unk").as("unk"))))
          }))
      .select(col("w"), col("st.np").as("n_p"), col("st.unk").as("unk"))
    walked
  }
}
