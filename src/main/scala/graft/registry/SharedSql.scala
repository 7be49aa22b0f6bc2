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

  /** 16-bit token-frequency simhash per doc → `sh16(id, simhash)`
    * (mirrors Dedup.simhash). */
  private[registry] val simhashCte: String = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
      .map(h => s"'$h'").mkString("(", ",", ")")
    val bitSums = (1 to 16)
      .map(j => s"sum(CASE WHEN substring(h, $j, 1) IN $oddHex THEN 1 ELSE -1 END) AS b_$j")
      .mkString(",\n         ")
    val bitChars = (1 to 16)
      .map(j => s"CASE WHEN b_$j > 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    s"""e AS (
       |  SELECT doc_id AS id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |s AS (
       |  SELECT id,
       |         $bitSums
       |  FROM e GROUP BY id),
       |sh16 AS (SELECT id, $bitChars AS simhash FROM s)""".stripMargin
  }

  /** embeddings → (vec_id, fv BIGINT[], nn) with ×1e6 fixed-point and the
    * exact integer squared norm. */
  private[registry] val fpVecCte =
    """fp AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
      |  FROM embeddings),
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
}
