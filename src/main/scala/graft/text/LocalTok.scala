package graft.text

import org.apache.spark.sql.DataFrame

/** Driver-side primitives for the tokenizer train-loop cutover (r18
  * optimization round). The unigram-EM and WordPiece merge loops run
  * entirely on the DISTINCT-WORD table — model-sized by Heaps' law —
  * yet as distributed jobs they cost ~19 driver jobs of scheduling and
  * Catalyst-planning constants per cold chain (measured at sf0.1:
  * 4.65 s wall, 1.03 s of stage time; the Viterbi HOF plan alone is
  * 400 KB formatted). Under the driver-collect bound
  * ([[graft.Collect]], shared with the dedup union-find) the loops run
  * driver-side on the collected word-count table instead, with the
  * distributed implementations retained verbatim above it.
  *
  * Every helper here mirrors the exact Catalyst semantics of the
  * expression it replaces, so the two paths are BIT-IDENTICAL (the
  * TokenizerLocalSpec pins equality path-vs-path on corpora with
  * unicode, ties and UNK edges):
  *   - string length / substring count Unicode CODE POINTS
  *     (UTF8String semantics), not UTF-16 units;
  *   - string ORDER is unsigned UTF-8 byte order (UTF8String.compareTo),
  *     not String.compareTo's UTF-16 order;
  *   - `log` is java.lang.StrictMath.log (UnaryLogExpression's codegen);
  *   - `round` on double is java.math.BigDecimal.valueOf(x).setScale(0,
  *     HALF_UP) (RoundBase's codegen), then the double→long cast.
  */
private[text] object LocalTok {

  /** Code-point chunks of a string — the unit Spark's length()/
    * substring() count. Each element is one code point (1 or 2 chars). */
  def cps(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Unsigned UTF-8 byte order — UTF8String.compareTo's order, which is
    * what Spark's string ORDER BY / comparisons use. Differs from
    * String.compareTo for supplementary characters. */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val x = ab(i) & 0xff
        val y = bb(i) & 0xff
        if (x != y) return x - y
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** round(−ln(c/total)·1e6).cast("long") exactly as the Catalyst chain
    * evaluates it: StrictMath.log on the IEEE double quotient, Round's
    * BigDecimal HALF_UP at scale 0, then the double→long cast. */
  def costFp6(c: Long, total: Long): Long = {
    val v = -java.lang.StrictMath.log(c.toDouble / total.toDouble) * 1e6
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Code-point length — what Spark's length() returns. */
  def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** The collected distinct-word table under the driver-collect bound
    * ([[graft.Collect]] at [[graft.Collect.WordBytes]] per word),
    * memoized per (word-table plan, bound) epoch so the four consumers
    * (unigram train + segLen, WordPiece loop + walk) pay ONE bounded
    * head() job on the cached wordCounts artifact. None = the vocabulary
    * exceeds the bound: callers run the distributed loops unchanged. */
  def collectedWords(words: DataFrame): Option[Array[(String, Long)]] = {
    val max = graft.Collect.maxRows(graft.Collect.WordBytes)
    graft.Caches.memo(
      ("localWords", words.queryExecution.logical.canonicalized, max)) {
      graft.Collect.head(words, max).map(_.map(r => (r.getString(0), r.getLong(1))))
    }
  }

  // ---------------------------------------------------------------- unigram

  /** Viterbi pieces of one word (as code-point chunks) under piece
    * costs — the exact semantics of [[Unigram.viterbiSegments]]'s HOF
    * pair: dp(p) = min over l of (dp(p−l) + cost(piece) if the piece is
    * in the vocabulary else Inf); greedy backtrace from the END taking
    * the SMALLEST l that reproduces dp(pos). All-Long arithmetic; the
    * caller guarantees every single character is in the vocabulary
    * (true for every seed/EM/final vocabulary — required-character
    * set), so the backtrace always drains. */
  def viterbiPieces(cp: Array[String], costs: collection.Map[String, Long],
                    maxPieceLen: Int): List[String] = {
    val n = cp.length
    val dp = new Array[Long](n + 1)
    var p = 1
    while (p <= n) {
      var m = Long.MaxValue
      var l = 1
      val lMax = math.min(maxPieceLen, p)
      while (l <= lMax) {
        val step = costs.get(cp.slice(p - l, p).mkString) match {
          case Some(c) => dp(p - l) + c
          case None    => Unigram.Inf
        }
        if (step < m) m = step
        l += 1
      }
      dp(p) = m
      p += 1
    }
    var pos = n
    var ps = List.empty[String]
    while (pos > 0) {
      var lstar = 0
      var l = 1
      while (lstar == 0 && l <= maxPieceLen) {
        if (pos >= l &&
          costs.get(cp.slice(pos - l, pos).mkString)
            .exists(c => dp(pos - l) + c == dp(pos))) lstar = l
        l += 1
      }
      if (lstar == 0) throw new IllegalStateException(
        "viterbiPieces: backtrace stuck — vocabulary is missing a single "
          + s"character of '${cp.mkString}' (callers must pass a vocabulary "
          + "containing the required-character set)")
      ps = cp.slice(pos - lstar, pos).mkString :: ps
      pos -= lstar
    }
    ps
  }

  private def withCostsLocal(counts: Seq[(String, Long)])
  : Array[(String, Long, Long)] = {
    val total = counts.iterator.map(_._2).sum
    counts.iterator
      .map { case (piece, c) => (piece, c, costFp6(c, total)) }.toArray
  }

  /** Driver-side [[Unigram.unigramTrain]] — bit-identical EM on the
    * collected word table. Returns (piece, n_used, cost_fp6) rows. */
  def unigramTrainLocal(words: Array[(String, Long)], maxPieceLen: Int,
                        maxWordLen: Int, rounds: Int, minCount: Long,
                        vocabSize: Int): Array[(String, Long, Long)] = {
    words.foreach { case (w, _) =>
      if (cpLen(w) > maxWordLen) throw new RuntimeException(
        s"unigramTrain: word longer than maxWordLen=$maxWordLen "
          + "(the oracle mirror unrolls that many rounds): " + w)
    }
    val wcps = words.map { case (w, c) => (cps(w), c) }
    // Seed: every substring of length 1..maxPieceLen weighted by
    // occurrence × word count; singles always kept.
    val seed = collection.mutable.HashMap.empty[String, Long]
    for ((cp, c) <- wcps; p <- 1 to cp.length;
         l <- 1 to math.min(maxPieceLen, p)) {
      val piece = cp.slice(p - l, p).mkString
      seed(piece) = seed.getOrElse(piece, 0L) + c
    }
    var vocab = withCostsLocal(
      seed.iterator.filter { case (piece, c) =>
        cpLen(piece) == 1 || c >= minCount }.toSeq)
    for (_ <- 1 to rounds) {
      val costs = vocab.iterator
        .map { case (piece, _, cost) => piece -> cost }.toMap
      val usage = collection.mutable.HashMap.empty[String, Long]
      for ((cp, c) <- wcps; piece <- viterbiPieces(cp, costs, maxPieceLen))
        usage(piece) = usage.getOrElse(piece, 0L) + c
      val singles = vocab.iterator
        .filter { case (piece, _, _) => cpLen(piece) == 1 }
        .map { case (piece, _, _) =>
          (piece, math.max(usage.getOrElse(piece, 0L), 1L)) }.toSeq
      val multis = usage.iterator
        .filter { case (piece, u) => cpLen(piece) > 1 && u >= minCount }
        .toSeq
      vocab = withCostsLocal(singles ++ multis)
    }
    // Final cut: all singles + top (vocabSize − #singles) multis by
    // (count DESC, piece ASC in UTF-8 byte order — the engine's string
    // comparison semantics).
    val singles = vocab.filter { case (p, _, _) => cpLen(p) == 1 }
    val multis = vocab.filter { case (p, _, _) => cpLen(p) > 1 }
      .sortWith { case ((p1, c1, _), (p2, c2, _)) =>
        c1 > c2 || (c1 == c2 && utf8Order.lt(p1, p2)) }
      .take(math.max(0, vocabSize - singles.length))
    singles ++ multis
  }

  /** Driver-side segment-length table for [[Unigram.unigramApply]]:
    * (w, n_p) — one Viterbi walk per distinct word under the trained
    * vocabulary's costs. */
  def unigramSegLensLocal(words: Array[(String, Long)],
                          vocab: Array[(String, Long, Long)],
                          maxPieceLen: Int): Array[(String, Long)] = {
    val costs = vocab.iterator
      .map { case (piece, _, cost) => piece -> cost }.toMap
    words.map { case (w, _) =>
      (w, viterbiPieces(cps(w), costs, maxPieceLen).length.toLong) }
  }

  // -------------------------------------------------------------- wordpiece

  /** Driver-side [[WordPiece]] train loop — bit-identical greedy merge
    * sequence on the collected word table. Returns (merge rows, apply
    * vocabulary pieces). */
  def wordpieceTrainLocal(words: Array[(String, Long)], nMerges: Int,
                          maxPieceLen: Int, maxWordLen: Int,
                          minPairCount: Long, charMinCount: Long)
  : (Seq[(Long, String, String, Long, Long)], Seq[String]) = {
    words.foreach { case (w, _) =>
      if (cpLen(w) > maxWordLen) throw new RuntimeException(
        s"wordpieceTrain: word longer than maxWordLen=$maxWordLen "
          + "(the oracle mirror unrolls that many greedy-match rounds): " + w)
      if (w.indexOf('(') >= 0 || w.indexOf(')') >= 0)
        throw new RuntimeException(
          "wordpieceTrain: word contains '(' or ')' which collide "
            + "with the guard-string unit delimiters; strip or remap "
            + "upstream (e.g. TextOps.normalize): " + w)
    }
    var corpus = words.map { case (w, c) => (cps(w), c) }
    def histogram(units: Array[(Array[String], Long)])
    : collection.mutable.HashMap[String, Long] = {
      val h = collection.mutable.HashMap.empty[String, Long]
      for ((us, c) <- units; u <- us) h(u) = h.getOrElse(u, 0L) + c
      h
    }
    var charCounts: collection.Map[String, Long] = null
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val units: collection.Map[String, Long] =
        if (charCounts == null) { charCounts = histogram(corpus); charCounts }
        else histogram(corpus)
      val pairs = collection.mutable.HashMap.empty[(String, String), Long]
      for ((us, c) <- corpus; i <- 0 until us.length - 1) {
        val k = (us(i), us(i + 1))
        pairs(k) = pairs.getOrElse(k, 0L) + c
      }
      // score_fp12 = c_ab·10¹² div (c_a·c_b) — DECIMAL(38,0)
      // intermediates in the engine; BigInt quotient (truncating
      // toward zero on positives = `div`) is exact the same way.
      val scored = pairs.iterator
        .filter { case ((w1, w2), cAb) =>
          cpLen(w1) + cpLen(w2) <= maxPieceLen && cAb >= minPairCount }
        .map { case ((w1, w2), cAb) =>
          val s = (BigInt(cAb) * WordPiece.ScoreScale /
            (BigInt(units(w1)) * BigInt(units(w2)))).toLong
          (w1, w2, cAb, s)
        }.toSeq
      if (scored.isEmpty) exhausted = true
      else {
        val (w1, w2, cAb, s) = scored.min(Ordering.fromLessThan[
          (String, String, Long, Long)] { case ((a1, a2, _, as), (b1, b2, _, bs)) =>
          as > bs || (as == bs && (utf8Order.lt(a1, b1) ||
            (a1 == b1 && utf8Order.lt(a2, b2))))
        })
        merges += ((r.toLong, w1, w2, cAb, s))
        // Leftmost-first non-overlapping adjacent fuse — the guard-string
        // replace's semantics (the written unit is never rescanned as a
        // pair head within the same round).
        corpus = corpus.map { case (us, c) =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < us.length) {
            if (i + 1 < us.length && us(i) == w1 && us(i + 1) == w2) {
              out += (w1 + w2); i += 2
            } else { out += us(i); i += 1 }
          }
          (out.result(), c)
        }
        r += 1
      }
    }
    val mergeRows = merges.result()
    val mergedUnits = mergeRows.map { case (_, w1, w2, _, _) => w1 + w2 }.distinct
    val vocab = charCounts.iterator
      .filter { case (_, c) => c >= charMinCount }.map(_._1).toSeq ++ mergedUnits
    (mergeRows, vocab)
  }

  /** Driver-side greedy longest-match-first walk for
    * [[WordPiece.wordpieceApply]]: (w, n_p, unk) per distinct word —
    * word-level [UNK] (ONE piece, regardless of any pieces matched
    * before the failing position, exactly as the HOF walk resets np). */
  def wordpieceWalkLocal(words: Array[(String, Long)], vocab: Set[String],
                         maxPieceLen: Int): Array[(String, Long, Long)] =
    words.map { case (w, _) =>
      val cp = cps(w)
      val n = cp.length
      var pos = 1
      var np = 0L
      var unk = 0L
      while (pos <= n) {
        var lmax = 0
        var l = 1
        val lCap = math.min(maxPieceLen, n - pos + 1)
        while (l <= lCap) {
          if (vocab.contains(cp.slice(pos - 1, pos - 1 + l).mkString)) lmax = l
          l += 1
        }
        if (lmax == 0) { np = 1L; unk = 1L; pos = n + 1 }
        else { np += 1L; pos += lmax }
      }
      (w, np, unk)
    }
}
