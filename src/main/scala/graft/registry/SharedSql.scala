package graft
package registry

import graft.text.TextOps

/** DuckDB SQL fragments (CTE bodies and expressions) used by the oracle
  * SQL of more than one module; each mirrors one engine operator. */
object SharedSql {

  /** IN-list literal from a vocab, e.g. ('the','a',...). */
  private[registry] def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  private[registry] val stop: Map[String, Seq[String]] = TextOps.Stopwords.toMap

  /** md5-of-normalized-text fingerprint (mirrors TextOps.fingerprint). */
  private[registry] val fpExpr =
    "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"

  private[registry] def vocabHits(words: Seq[String]): String =
    s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ${inList(words)})) AS INTEGER)"

  /** Distinct word 3-gram shingles per doc (mirrors Dedup.shingles n=3). */
  private[registry] val shinglesCte =
    """sh AS (
      |  SELECT DISTINCT id, shingle FROM (
      |    SELECT doc_id AS id,
      |           unnest(list_transform(range(1, len(toks) - 1),
      |                                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |    WHERE len(toks) >= 3))""".stripMargin

  /** Token-frequency simhash of `bits` bits per doc →
    * `name(id, simhash)`: the md5 of every token `e(id, h)`, each bit's
    * summed ±1 votes `s(id, b_1..)`, and the vote signs as a 0/1 string,
    * MSB-first. `bitSet(j)` is the condition that token hash h votes +1
    * for bit j. */
  private def simhashSigCte(name: String, bits: Int, bitSet: Int => String): String = {
    val bitSums = (1 to bits)
      .map(j => s"sum(CASE WHEN ${bitSet(j)} THEN 1 ELSE -1 END) AS b_$j")
      .mkString(",\n         ")
    val bitChars = (1 to bits)
      .map(j => s"CASE WHEN b_$j > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    s"""e AS (
       |  SELECT doc_id AS id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |s AS (
       |  SELECT id,
       |         $bitSums
       |  FROM e GROUP BY id),
       |$name AS (SELECT id, $bitChars AS simhash FROM s)""".stripMargin
  }

  /** 16-bit simhash → `sh16(id, simhash)` (mirrors Dedup.simhash): bit j
    * votes +1 when md5 hex digit j is odd. */
  private[registry] val simhashCte: String = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
      .map(h => s"'$h'").mkString("(", ",", ")")
    simhashSigCte("sh16", 16, j => s"substring(h, $j, 1) IN $oddHex")
  }

  /** 64-bit simhash → `sh64(id, simhash)` (mirrors functions.SimHash64Fp):
    * bit j votes +1 when bit (3 − (j−1)%4) of md5 hex digit ⌈j/4⌉ is set. */
  private[registry] val simhash64Cte: String =
    simhashSigCte("sh64", 64, j =>
      s"((strpos('0123456789abcdef', substring(h, ${(j - 1) / 4 + 1}, 1)) - 1) >> ${3 - (j - 1) % 4}) & 1 = 1")

  /** `sh64` with the signature as 32-bit halves → `hl(id, [b,] simhash,
    * hi, lo)`: a sign-bit-set 64-bit value does not survive a decimal
    * round-trip, so Hamming distance runs on hi and lo. `batch`, when
    * given, is a column prefix such as `id % 2 AS b, `. */
  private[registry] def hiLoCte(batch: String = ""): String =
    s"""hl AS (
       |  SELECT id, ${batch}simhash,
       |         CAST(concat('0b', substring(simhash, 1, 32)) AS BIGINT) AS hi,
       |         CAST(concat('0b', substring(simhash, 33, 32)) AS BIGINT) AS lo
       |  FROM sh64)""".stripMargin

  /** Transitive closure of the undirected pair graph `p(id_a, id_b)` →
    * `reach(id, r)`, every node reachable from each node (UNION dedups,
    * so the recursion reaches a fixpoint); min(r) per id is its
    * connected-component id (mirrors Dedup.connectedComponents). Needs
    * WITH RECURSIVE. */
  private[registry] val reachCte =
    """eg AS (SELECT id_a AS src, id_b AS dst FROM p
      |       UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
      |reach AS (
      |  SELECT src AS id, src AS r FROM eg
      |  UNION
      |  SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id)""".stripMargin

  /** embeddings → (vec_id, fv BIGINT[]) with ×1e6 fixed-point. */
  private[registry] val fpCte =
    """fp AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
      |  FROM embeddings)""".stripMargin

  /** `fp` plus `nv(vec_id, fv, nn)` with the exact integer squared norm. */
  private[registry] val fpVecCte =
    s"""$fpCte,
       |nv AS (
       |  SELECT vec_id, fv,
       |         list_sum(list_transform(range(1, len(fv) + 1), i -> fv[i] * fv[i])) AS nn
       |  FROM fp)""".stripMargin

  /** Exact int dot of q.fv and c.fv divided by the sqrt'd norms. */
  private[registry] def cosineExpr(q: String, c: String): String =
    s"CAST(list_sum(list_transform(range(1, len($q.fv) + 1), i -> $q.fv[i] * $c.fv[i])) AS DOUBLE)" +
      s" / (sqrt(CAST($q.nn AS DOUBLE)) * sqrt(CAST($c.nn AS DOUBLE)))"

  /** Sign-LSH bucket over the first 4 raw float components. The engine
    * self-sizes the width from the corpus cardinality
    * (Vectors.bitsFor: clamp(ceil(log2 n) - 7, 4, 24)); every gate/bench
    * corpus (500–2 000 vectors) resolves to the 4-bit FLOOR, which is
    * what this mirror pins — a corpus past 2^11 vectors would need the
    * oracle width raised in lockstep. */
  private[registry] val bucket4Expr =
    (1 to 4).map(i => s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  /** Sign-LSH bucketed vectors (mirrors Vectors.lshTopK's index): the
    * bucket CTE `b`, `fpVecCte`, and `v(vec_id, fv, nn, bucket)`, kept to
    * non-zero vectors when `nonZero`. */
  private[registry] def bucketVecCte(nonZero: Boolean, b: String = "b"): String = {
    val filter = if (nonZero) "\n      WHERE nn > 0" else ""
    s"""$b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN $b ON nv.vec_id = $b.vec_id$filter)""".stripMargin
  }

  /** The Gopher quality features of a doc (mirrors the inputs of
    * TextOps.qualityScore), as select-list items: n_tokens (INTEGER),
    * the en stopword hits and punct_ratio. */
  private[registry] val qualityFeatures =
    s"""CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |         ${vocabHits(stop("en"))} AS hits,
       |         CASE WHEN length(text) > 0
       |              THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
       |              ELSE 0.0 END AS punct_ratio""".stripMargin

  /** TextOps.qualityScore over `qualityFeatures`, rounded to BIGINT
    * fixed-point (×1e6). */
  private[registry] val qualityFp6 =
    """CAST(round(((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
      |           + least((CASE WHEN n_tokens > 0 THEN CAST(hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.4
      |           + (1.0 - punct_ratio) * 0.2) * 1000000.0) AS BIGINT)""".stripMargin
}
