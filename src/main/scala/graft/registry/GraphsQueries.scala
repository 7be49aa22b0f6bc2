package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SharedSpark._

/** Link-analysis ranks over the domain graph. */
object GraphsQueries extends Module("graphs") {

  /** Crawl-prioritization domain ranking — integer-exact PageRank
    * (ops.Graphs.pageRankInt) over a synthesized domain link graph
    * (src = doc_id%20, dst = (7·doc_id+3)%20, self-loops dropped,
    * edges distinct). Three iterations, each ONE node-keyed join + ONE
    * destination-keyed aggregation over the persisted degree-annotated
    * edge list; all arithmetic is order-free integer math (rank div
    * outdeg, damping as (17·s) div 20), which is the only way an
    * iterative float algorithm can sit under an exact-hash gate — the
    * oracle unrolls the same three rounds CTE-for-CTE. */
  private def qDomainRank(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "documents").select(
      pmod(col("doc_id"), lit(20L)).as("src"),
      pmod(col("doc_id") * 7 + 3, lit(20L)).as("dst"))
    ops.Graphs.pageRankInt(edges, "src", "dst", iters = 3)
      .select(col("v").as("domain"), col("r").as("rank"))
      .orderBy(col("domain"))
  }
  // Integer-exact PageRank, three rounds unrolled CTE-for-CTE;
  // sum(BIGINT) is HUGEINT in DuckDB, so every contribution sum casts
  // back down before the damping arithmetic.
  query("q_domain_rank", qDomainRank, {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (
         |  SELECT ed.dst, CAST(sum(r${t - 1}.r // ed.deg) AS BIGINT) AS s
         |  FROM ed JOIN r${t - 1} ON r${t - 1}.v = ed.src GROUP BY 1),
         |r$t AS (
         |  SELECT n.v,
         |         CAST(150000000000 + (17 * COALESCE(c$t.s, 0)) // 20 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$t ON c$t.dst = n.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst
       |  FROM documents WHERE doc_id % 20 <> (doc_id * 7 + 3) % 20),
       |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, od.deg FROM e JOIN od USING (src)),
       |nodes AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |r0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT v AS domain, r AS rank FROM r3 ORDER BY domain""".stripMargin
  })

  /** Seed-personalized PageRank / TrustRank (ops.Graphs
    * .personalizedPageRankInt): teleport mass lands only on the trusted
    * seed domains (v ≡ 0 mod 5), 3 exact-integer rounds over the same
    * synthetic domain graph as q_domain_rank — the crawl-frontier
    * prioritizer / spam demoter next to raw PageRank. */
  private def qTrustRank(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "documents").select(
      pmod(col("doc_id"), lit(20L)).as("src"),
      pmod(col("doc_id") * 7 + 3, lit(20L)).as("dst"))
    val seeds = s.range(4).select((col("id") * 5).as("v"))
    ops.Graphs.personalizedPageRankInt(edges, "src", "dst", seeds, iters = 3)
      .select(col("v").as("domain"), col("trust"))
      .orderBy(col("domain"))
  }
  // TrustRank: the q_domain_rank graph, but teleport mass only on the
  // seed set (v % 5 = 0) — r0 = scale·seed, per-round base =
  // (1−d)·scale·seed; propagation rounds mirror pageRankInt verbatim.
  query("q_trust_rank", qTrustRank, {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (
         |  SELECT ed.dst, CAST(sum(r${t - 1}.r // ed.deg) AS BIGINT) AS s
         |  FROM ed JOIN r${t - 1} ON r${t - 1}.v = ed.src GROUP BY 1),
         |r$t AS (
         |  SELECT n.v,
         |         CAST(n.is_seed * 150000000000 + (17 * COALESCE(c$t.s, 0)) // 20 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$t ON c$t.dst = n.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst
       |  FROM documents WHERE doc_id % 20 <> (doc_id * 7 + 3) % 20),
       |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, od.deg FROM e JOIN od USING (src)),
       |nodes AS (SELECT v, CASE WHEN v % 5 = 0 THEN 1 ELSE 0 END AS is_seed FROM
       |  (SELECT DISTINCT v FROM
       |    (SELECT src AS v FROM e UNION ALL SELECT dst FROM e))),
       |r0 AS (SELECT v, CAST(is_seed * 1000000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT v AS domain, r AS trust FROM r3 ORDER BY domain""".stripMargin
  })
}
