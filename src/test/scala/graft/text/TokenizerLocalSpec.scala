package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bit-identity of the r18 driver-side tokenizer train-loop cutover
  * ([[LocalTok]]): for every output surface of the unigram and WordPiece
  * chains, the LOCAL path (word table collected under the
  * driver-collect bound, [[graft.Collect]]) must produce EXACTLY the rows
  * of the DISTRIBUTED path (bound forced to 0), on corpora exercising the
  * semantics that differ between naive JVM code and Catalyst:
  *   - supplementary characters (code-point length/substring, not
  *     UTF-16 units);
  *   - tie-breaks that rank strings (UTF-8 byte order, not UTF-16);
  *   - the transcendental cost quantization (StrictMath.log + HALF_UP);
  *   - UNK edges and the word-level UNK reset;
  *   - the fence errors (same trigger, same message content).
  */
class TokenizerLocalSpec extends SparkSpec {
  import spark.implicits._

  /** Collect rows of `df` as sorted value strings — exact compare. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `build` under the driver's bound and a zero bound, from a cold epoch each, and
    * return (local rows, distributed rows) for each surface. */
  private def bothPaths(surfaces: => Seq[DataFrame]): (Seq[Seq[String]], Seq[Seq[String]]) = {
    graft.Caches.release()
    val local = surfaces.map(rowsOf)
    graft.Caches.release()
    val dist = try graft.Collect.withMaxRows(0L)(surfaces.map(rowsOf))
    finally graft.Caches.release()
    (local, dist)
  }

  // 𝕏 = U+1D54F (supplementary, 2 UTF-16 chars, 4 UTF-8 bytes);
  // ﬀ = U+FB00 (3 UTF-8 bytes, sorts AFTER 𝕏 in UTF-16 order but
  // BEFORE it in UTF-8 byte order — the tie-break discriminator).
  private val uniCorpus = Seq(
    (1L, "ab ab cd 𝕏z 𝕏z"),
    (2L, "ab cd cd ﬀz ﬀz zz zz"),
    (3L, "ab𝕏 abﬀ q zz")
  )

  test("unigram train/apply: local path = distributed path (unicode, ties)") {
    val docs = uniCorpus.toDF("doc_id", "text")
    val (loc, dist) = bothPaths(Seq(
      Unigram.unigramTrain(docs, "doc_id", "text",
        maxPieceLen = 3, maxWordLen = 8, rounds = 2, minCount = 2,
        vocabSize = 9),
      Unigram.unigramApply(docs, "doc_id", "text",
        maxPieceLen = 3, maxWordLen = 8, rounds = 2, minCount = 2,
        vocabSize = 9)))
    assert(loc == dist)
    assert(loc.head.nonEmpty && loc(1).size == 3)
  }

  test("wordpiece train/apply: local path = distributed path (unicode, UNK, score ties)") {
    val docs = uniCorpus.toDF("doc_id", "text")
    val (loc, dist) = bothPaths(Seq(
      WordPiece.wordpieceTrain(docs, "doc_id", "text",
        nMerges = 4, maxPieceLen = 6, maxWordLen = 16,
        minPairCount = 1, charMinCount = 2),
      WordPiece.wordpieceApply(docs, "doc_id", "text",
        nMerges = 4, maxPieceLen = 6, maxWordLen = 16,
        minPairCount = 1, charMinCount = 2)))
    assert(loc == dist)
    assert(loc.head.nonEmpty && loc(1).size == 3)
  }

  test("wordpiece score ties break identically on a crafted equal-score pair") {
    // two pairs with IDENTICAL score_fp12: (a,b) and (a,c) both appear
    // twice with the same unit counts — argmax must pick (a,b) by the
    // (w1, w2) tie-break on both paths.
    val docs = Seq((1L, "ab ab ac ac")).toDF("doc_id", "text")
    val (loc, dist) = bothPaths(Seq(
      WordPiece.wordpieceTrain(docs, "doc_id", "text",
        nMerges = 1, maxPieceLen = 6, maxWordLen = 16,
        minPairCount = 1, charMinCount = 1)))
    assert(loc == dist)
    assert(loc.head.head.contains("[1,a,b,"))
  }

  test("local fences: same trigger, same message content as the engine fences") {
    graft.Caches.release()
    val long = Seq((1L, "a " + "x" * 17)).toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      Unigram.unigramTrain(long, "doc_id", "text").collect()
    }
    assert(e1.getMessage.contains("maxWordLen") ||
      Option(e1.getCause).exists(_.getMessage.contains("maxWordLen")))
    graft.Caches.release()
    val e2 = intercept[Exception] {
      WordPiece.wordpieceTrain(long, "doc_id", "text").collect()
    }
    assert(e2.getMessage.contains("maxWordLen") ||
      Option(e2.getCause).exists(_.getMessage.contains("maxWordLen")))
    graft.Caches.release()
    val paren = Seq((1L, "ok (bad)")).toDF("doc_id", "text")
    val e3 = intercept[Exception] {
      WordPiece.wordpieceTrain(paren, "doc_id", "text").collect()
    }
    assert(e3.getMessage.contains("guard-string") ||
      Option(e3.getCause).exists(_.getMessage.contains("guard-string")))
    graft.Caches.release()
  }

  test("over-bound vocabularies fall back to the distributed path") {
    graft.Caches.release()
    try graft.Collect.withMaxRows(2L) { // 3 distinct words > bound
      val docs = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
      val words = Unigram.wordCounts(docs, "doc_id", "text")
      assert(LocalTok.collectedWords(words).isEmpty)
      // and the chain still answers correctly through the distributed loop
      val out = Unigram.unigramTrain(docs, "doc_id", "text",
        maxPieceLen = 2, maxWordLen = 8, rounds = 1, minCount = 2,
        vocabSize = 10).collect()
      assert(out.nonEmpty)
    } finally graft.Caches.release()
  }
}
