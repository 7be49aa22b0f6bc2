package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Vectors

import SharedSpark._
import SharedSql._

/** Embedding similarity over `embeddings`: exact and approximate
  * nearest neighbors (LSH, IVF, PQ), kNN-graph diagnostics, PCA and
  * quantization. */
object SimilarityQueries extends Module("similarity") {

  /** Product-quantization codes over the embedding store: 4 subspaces of
    * 16 dims, 16-entry seeded codebooks — exact integer argmin, exploded
    * to (vec_id, subspace, code) for the compare. */
  private def qPqCodes(s: SparkSession, d: String): DataFrame =
    Vectors.pqCodes(t(s, d, "embeddings"), "vec_id", "embedding", m = 4, k = 16)
      .orderBy(col("id"), col("subspace"))
      .withColumnRenamed("id", "vec_id")
  // PQ codes: same fixed-point scale as every vector oracle; exact
  // integer squared-L2 argmin per (vector, subspace), tie → lowest cid.
  query("q_pq_codes", qPqCodes,
    """WITH fp AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
      |  FROM embeddings),
      |cb AS (SELECT vec_id AS cid, fv AS cfv FROM fp WHERE vec_id < 16),
      |js AS (SELECT unnest(range(0, 4)) AS j),
      |pairs AS (
      |  SELECT v.vec_id, js.j, cb.cid,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i])
      |           * (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i]))) AS dist
      |  FROM fp v, js, cb),
      |r AS (SELECT vec_id, j, cid,
      |        row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
      |      FROM pairs)
      |SELECT vec_id, CAST(j AS INTEGER) AS subspace, CAST(cid AS INTEGER) AS code
      |FROM r WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin)

  /** TRAINED-PQ codes: two per-subspace L2 Lloyd iterations
    * (Vectors.trainPqCodebooks — exact integer sums and truncating
    * integer means, so training is deterministic and the oracle can
    * mirror it CTE-for-CTE) refine the seeded codebooks, then the same
    * in-row assignment as q_pq_codes emits (vec_id, subspace, code)
    * against the trained book via the pqCodesWith seam. Only k·dim
    * aggregate rows reach the driver per round. */
  private def qPqTrained(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cb = Vectors.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 4, k = 16, iters = 2)
    Vectors.pqCodesWith(emb, "vec_id", "embedding", m = 4, cb)
      .orderBy(col("id"), col("subspace"))
      .withColumnRenamed("id", "vec_id")
  }
  // Trained-PQ mirror: two unrolled per-subspace L2 Lloyd iterations
  // (seed = first 16 vectors' subvectors, assignment = (sq-L2 ASC,
  // code ASC) argmin, update = truncating integer mean per (subspace,
  // code, position) — DuckDB `//` truncates toward zero exactly like
  // the engine's Long division; empty (subspace, code) cells keep the
  // previous entry), then the q_pq_codes assignment against the
  // trained book.
  query("q_pq_trained", qPqTrained, {
    val sqL2 =
      "list_sum(list_transform(range(1, 17), i -> " +
        "(v.fv[s.j*16 + i] - s.csv[i]) * (v.fv[s.j*16 + i] - s.csv[i])))"
    // one Lloyd iteration: argmin vs prev book, integer-mean update
    def iter(i: Int, prev: String): String =
      s"""a$i AS (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT v.vec_id, s.j, s.cid,
         |           row_number() OVER (PARTITION BY v.vec_id, s.j
         |                              ORDER BY $sqL2, s.cid) AS rn
         |    FROM fp v, $prev s)
         |  WHERE rn = 1),
         |e$i AS (SELECT a.j, a.cid, u.i AS pos, v.fv[a.j*16 + u.i] AS val
         |        FROM a$i a JOIN fp v USING (vec_id), unnest(range(1, 17)) AS u(i)),
         |m$i AS (SELECT j, cid, list(CAST(s // n AS BIGINT) ORDER BY pos) AS csv
         |        FROM (SELECT j, cid, pos, CAST(sum(val) AS BIGINT) AS s,
         |                     count(*) AS n
         |              FROM e$i GROUP BY j, cid, pos)
         |        GROUP BY j, cid),
         |cbs$i AS (SELECT p.cid, p.j, coalesce(m.csv, p.csv) AS csv
         |          FROM cbs${i - 1} p LEFT JOIN m$i m
         |            ON p.cid = m.cid AND p.j = m.j)""".stripMargin
    s"""WITH fp AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
       |  FROM embeddings),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |cb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, fv
       |  FROM (SELECT vec_id, fv FROM fp WHERE vec_id < 16 ORDER BY vec_id)),
       |cbs0 AS (
       |  SELECT cid, j, list_transform(range(1, 17), i -> fv[j*16 + i]) AS csv
       |  FROM cb0, js),
       |${iter(1, "cbs0")},
       |${iter(2, "cbs1")},
       |r AS (
       |  SELECT v.vec_id, s.j, s.cid,
       |         row_number() OVER (PARTITION BY v.vec_id, s.j
       |                            ORDER BY $sqL2, s.cid) AS rn
       |  FROM fp v, cbs2 s)
       |SELECT vec_id, CAST(j AS INTEGER) AS subspace, CAST(cid AS INTEGER) AS code
       |FROM r WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin
  })

  /** PQ asymmetric-distance top-10 around corpus vector 42: the serving
    * query over the PQ-compressed store — driver-side LUT, in-row ADC sum,
    * TakeOrderedAndProject. */
  private def qPqTopK(s: SparkSession, d: String): DataFrame =
    Vectors.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 42L, m = 4, k = 16, topK = 10)
      .withColumnRenamed("id", "vec_id")
  // PQ ADC serving: codes as in q_pq_codes; LUT = exact integer sq-L2
  // between the query (vec_id 42) subvectors and each codebook entry;
  // score = sum of per-subspace LUT hits; total order (dist, id).
  query("q_pq_topk", qPqTopK,
    """WITH fp AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
      |  FROM embeddings),
      |cb AS (SELECT vec_id AS cid, fv AS cfv FROM fp WHERE vec_id < 16),
      |js AS (SELECT unnest(range(0, 4)) AS j),
      |pairs AS (
      |  SELECT v.vec_id, js.j, cb.cid,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i])
      |           * (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i]))) AS dist
      |  FROM fp v, js, cb),
      |codes AS (
      |  SELECT vec_id, j, cid FROM (
      |    SELECT vec_id, j, cid,
      |           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
      |    FROM pairs) WHERE rn = 1),
      |q AS (SELECT fv AS qfv FROM fp WHERE vec_id = 42),
      |lut AS (
      |  SELECT js.j, cb.cid,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (q.qfv[js.j*16 + i] - cb.cfv[js.j*16 + i])
      |           * (q.qfv[js.j*16 + i] - cb.cfv[js.j*16 + i]))) AS d
      |  FROM q, js, cb)
      |SELECT c.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
      |FROM codes c JOIN lut l ON c.j = l.j AND c.cid = l.cid
      |GROUP BY c.vec_id
      |ORDER BY adc_dist, c.vec_id LIMIT 10""".stripMargin)

  /** kNN-graph DEGREE DIAGNOSTICS: the undirected degree
    * histogram plus the reciprocity rate (share of directed edges whose
    * reverse also exists) — the two cheapest health signals of a
    * near-neighbor graph (a healthy kNN graph is strongly reciprocal
    * and its undirected degrees concentrate just above k; a flat or
    * heavy-tailed histogram says the embedding space or the candidate
    * generator broke). One edge scan for reciprocity (self-join on the
    * reversed key — vertex-keyed hash join), one for degrees; output is
    * histogram-sized. Integer-exact permille. */
  private def qGraphDegreeStats(s: SparkSession, d: String): DataFrame = {
    val e = Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding", k = 3)
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val recip = e.as("x").join(e.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"),
        "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    val nEdges = e.agg(count(lit(1)).as("n_dir"))
    deg.groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
      .crossJoin(broadcast(recip)).crossJoin(broadcast(nEdges))
      .select(col("deg"), col("n_vertices"),
        expr("(1000 * n_recip) div n_dir").as("recip_permille"))
      .orderBy(col("deg"))
  }
  // kNN-graph degree histogram + reciprocity permille: the q_knn_graph
  // edge CTE, undirected census + reversed-key existence count.
  query("q_graph_degree_stats", qGraphDegreeStats,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |dedges AS MATERIALIZED (
       |  SELECT src_id AS src, dst_id AS dst FROM r WHERE "rank" <= 3),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM dedges),
       |deg AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg FROM (
       |          SELECT a AS vtx FROM und UNION ALL SELECT b AS vtx FROM und)
       |        GROUP BY 1),
       |rec AS (SELECT CAST(count(*) AS BIGINT) AS n_recip FROM dedges x
       |        WHERE EXISTS (SELECT 1 FROM dedges y
       |                      WHERE y.src = x.dst AND y.dst = x.src)),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_dir FROM dedges)
       |SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices,
       |       CAST((1000 * n_recip) // n_dir AS BIGINT) AS recip_permille
       |FROM deg, rec, ne
       |GROUP BY deg, n_recip, n_dir
       |ORDER BY deg""".stripMargin)

  /** Embedding L2-norm spectrum: the squared-norm histogram in
    * ⌊log₂⌋ buckets (the bin()-length trick of q_interevent_gaps) plus the
    * zero-vector bucket (−1) — the cheapest embedding-store health
    * check: a collapsed or mis-scaled encoder concentrates the
    * spectrum, zero rows mean upstream nulls. One narrow codegen pass
    * (fixed-point + exact integer norm) into ONE map-side aggregate;
    * output ≤ ~50 rows with exact min/max fences per bucket. */
  private def qNormHistogram(s: SparkSession, d: String): DataFrame = {
    val v = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      .select(Vectors.normSqFp(Vectors.fixedPoint(col("embedding"))).as("nn"))
    v.groupBy(when(col("nn") === 0, lit(-1))
        .otherwise(length(bin(col("nn"))) - 1).cast("int").as("log2_bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("nn")).as("min_normsq_fp"), max(col("nn")).as("max_normsq_fp"))
      .orderBy(col("log2_bucket"))
  }
  // Embedding squared-norm spectrum: exact fixed-point norms in
  // ⌊log₂⌋ buckets (bin()-length), zero vectors → bucket −1.
  query("q_norm_histogram", qNormHistogram,
    s"""WITH $fpVecCte,
       |h AS (SELECT CASE WHEN nn = 0 THEN -1
       |                  ELSE length(bin(nn)) - 1 END AS log2_bucket, nn
       |      FROM nv WHERE fv IS NOT NULL)
       |SELECT CAST(log2_bucket AS INTEGER) AS log2_bucket,
       |       CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST(min(nn) AS BIGINT) AS min_normsq_fp,
       |       CAST(max(nn) AS BIGINT) AS max_normsq_fp
       |FROM h GROUP BY 1 ORDER BY log2_bucket""".stripMargin)

  /** kNN-graph LINK PREDICTION by common neighbors: for every
    * non-adjacent vertex pair sharing AT LEAST TWO neighbors (the
    * cn ≥ 2 support threshold — single-wedge pairs are noise for a
    * k=3 graph and are deliberately dropped, so this is NOT full
    * distance-2 coverage), the shared-neighbor count
    * and the Jaccard of their neighbor sets in exact permille
    * (Liben-Nowell & Kleinberg 2003's strongest cheap predictors) —
    * the "these two documents should probably be neighbors" candidate
    * generator that repairs a kNN graph's missed edges before
    * clustering. Wedge enumeration is the oriented two-hop self-join
    * of the symmetric edge list — the same vertex-keyed equi-join
    * family as q_knn_triangles, fan-out bounded by Σdeg² which the
    * kNN construction caps near k²·n; the adjacency check is one
    * left-anti join, degrees one census aggregate. Integer-exact:
    * jaccard = 1000·cn div (deg_a + deg_b − cn). */
  private def qCommonNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding", k = 3)
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val cn = sym.as("l").join(sym.as("r"),
        col("l.u") === col("r.u") && col("l.v") < col("r.v"))
      .groupBy(col("l.v").as("a"), col("r.v").as("b"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    cn.join(und, Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        expr("(1000 * cn) div (da + db - cn)").as("jaccard_permille"))
      .orderBy(col("a"), col("b"))
  }
  // Link prediction by common neighbors over the kNN graph: wedge
  // self-join of the symmetric edge list, adjacency anti-check,
  // Jaccard of neighbor sets in exact permille.
  query("q_common_neighbors", qCommonNeighbors,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |dedges AS MATERIALIZED (
       |  SELECT src_id AS src, dst_id AS dst FROM r WHERE "rank" <= 3),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM dedges),
       |sym AS (SELECT a AS uu, b AS vv FROM und
       |        UNION ALL SELECT b AS uu, a AS vv FROM und),
       |deg AS (SELECT uu, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |cn AS (
       |  SELECT l.vv AS a, r2.vv AS b, CAST(count(*) AS BIGINT) AS cn
       |  FROM sym l JOIN sym r2 ON l.uu = r2.uu AND l.vv < r2.vv
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |na AS (SELECT cn.a, cn.b, cn.cn FROM cn
       |       WHERE NOT EXISTS (SELECT 1 FROM und
       |                         WHERE und.a = cn.a AND und.b = cn.b))
       |SELECT na.a, na.b, na.cn,
       |       CAST((1000 * na.cn) // (da.deg + db.deg - na.cn) AS BIGINT)
       |         AS jaccard_permille
       |FROM na JOIN deg da ON na.a = da.uu JOIN deg db ON na.b = db.uu
       |ORDER BY a, b""".stripMargin)

  /** Per-vertex LOCAL CLUSTERING COEFFICIENT: triangles through
    * each vertex over C(deg,2) in exact permille (Watts & Strogatz
    * 1998) — the per-point "is my neighborhood coherent" signal that
    * separates tight semantic clusters (→1000‰) from hub-like bridge
    * vectors (→0‰) before a density-based selector trusts the graph.
    * Triangle enumeration is the oriented a<b<c two-join (the
    * q_knn_triangles shape, fan-out capped by forward degree); each
    * triangle credits its three corners via a 3-way unionAll into ONE
    * vertex-keyed count, degrees come from the census aggregate, and
    * deg<2 vertices report NULL (no pair to close — never div-0). */
  private def qClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val und = Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding", k = 3)
      .select(least(col("src_id"), col("dst_id")).as("a"),
        greatest(col("src_id"), col("dst_id")).as("b")).distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val tri = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"), "left_semi")
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val triV = tri.select(col("x").as("v"))
      .unionAll(tri.select(col("y").as("v")))
      .unionAll(tri.select(col("z").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    deg.join(triV, Seq("v"), "left")
      .select(col("v"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff_permille",
        when(col("deg") >= 2, expr("(2000 * tri) div (deg * (deg - 1))")))
      .orderBy(col("v"))
  }
  // Per-vertex local clustering coefficient: oriented a<b<c triangle
  // enumeration credits each corner, coeff = 2000·tri // deg(deg−1)
  // in permille, NULL for deg < 2.
  query("q_clustering_coeff", qClusteringCoeff,
    s"""WITH ${knnUndCte(3)},
       |deg AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg FROM (
       |          SELECT a AS vtx FROM und UNION ALL SELECT b AS vtx FROM und)
       |        GROUP BY 1),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM und e1 JOIN und e2 ON e1.b = e2.a
       |        WHERE EXISTS (SELECT 1 FROM und e3
       |                      WHERE e3.a = e1.a AND e3.b = e2.b)),
       |tv AS (SELECT vtx, CAST(count(*) AS BIGINT) AS tri FROM (
       |         SELECT x AS vtx FROM tri
       |         UNION ALL SELECT y FROM tri
       |         UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT deg.vtx AS v, deg.deg,
       |       COALESCE(tv.tri, CAST(0 AS BIGINT)) AS tri,
       |       CASE WHEN deg.deg >= 2
       |            THEN CAST((2000 * COALESCE(tv.tri, 0))
       |                      // (deg.deg * (deg.deg - 1)) AS BIGINT)
       |       END AS coeff_permille
       |FROM deg LEFT JOIN tv ON deg.vtx = tv.vtx
       |ORDER BY v""".stripMargin)

  /** Degree ASSORTATIVITY sufficient statistics (Newman 2002):
    * does the kNN graph wire similar-degree vertices together
    * (assortative, r>0) or hubs to leaves (disassortative, r<0)?
    * Exact integer sufficient statistics over the both-direction edge
    * list — n, Σx, Σx² and Σxy of endpoint degrees (symmetric
    * counting makes Σx=Σy, so these four determine Pearson's r, which
    * derives OUTSIDE the hash gate — the centroid-cosine numeric
    * discipline). Two vertex-keyed degree joins + ONE 1-row aggregate;
    * everything is edge-table-sized. */
  private def qDegreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val und = Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding", k = 3)
      .select(least(col("src_id"), col("dst_id")).as("a"),
        greatest(col("src_id"), col("dst_id")).as("b")).distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    sym.join(deg.select(col("u"), col("deg").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("n_endpoints"),
        sum(col("dx")).as("sum_x"),
        sum(col("dx") * col("dx")).as("sum_x2"),
        sum(col("dx") * col("dy")).as("sum_xy"))
  }
  // Degree assortativity sufficient statistics: symmetric endpoint-
  // degree sums (n, Σx, Σx², Σxy) — Pearson's r derives outside the
  // hash gate.
  query("q_degree_assortativity", qDegreeAssortativity,
    s"""WITH ${knnUndCte(3)},
       |sym AS (SELECT a AS uu, b AS vv FROM und
       |        UNION ALL SELECT b AS uu, a AS vv FROM und),
       |deg AS (SELECT uu, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
       |       CAST(sum(dx.deg) AS BIGINT) AS sum_x,
       |       CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sum_x2,
       |       CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sum_xy
       |FROM sym JOIN deg dx ON sym.uu = dx.uu
       |         JOIN deg dy ON sym.vv = dy.uu""".stripMargin)

  /** Gonzalez farthest-point k-center seeding (see
    * Vectors.kcenterSeeds): 4 deterministic rounds, exact integer
    * squared-L2, one aggregate per round. */
  private def qKcenterSeeds(s: SparkSession, d: String): DataFrame =
    Vectors.kcenterSeeds(t(s, d, "embeddings"), "vec_id", "embedding", k = 4)
      .orderBy(col("seed_idx"))
  // Gonzalez farthest-point k-center, k=4 unrolled: seed = smallest
  // id, each round argmax over the running min squared-L2 (exact
  // integers, ties → smallest id).
  query("q_kcenter_seeds", qKcenterSeeds,
    s"""WITH $fpVecCte,
       |p AS (SELECT vec_id, fv FROM fp WHERE fv IS NOT NULL),
       |c0 AS (SELECT vec_id AS id, fv FROM p
       |       WHERE vec_id = (SELECT min(vec_id) FROM p)),
       |d1 AS (SELECT p.vec_id, CAST(${sqDistExpr("p", "c0")} AS BIGINT) AS mind
       |       FROM p, c0),
       |s1 AS (SELECT vec_id, mind FROM d1 ORDER BY mind DESC, vec_id LIMIT 1),
       |c1 AS (SELECT p.vec_id AS id, p.fv FROM p JOIN s1 ON p.vec_id = s1.vec_id),
       |d2 AS (SELECT p.vec_id,
       |              least(d1.mind, CAST(${sqDistExpr("p", "c1")} AS BIGINT)) AS mind
       |       FROM p JOIN d1 ON p.vec_id = d1.vec_id, c1),
       |s2 AS (SELECT vec_id, mind FROM d2 ORDER BY mind DESC, vec_id LIMIT 1),
       |c2 AS (SELECT p.vec_id AS id, p.fv FROM p JOIN s2 ON p.vec_id = s2.vec_id),
       |d3 AS (SELECT p.vec_id,
       |              least(d2.mind, CAST(${sqDistExpr("p", "c2")} AS BIGINT)) AS mind
       |       FROM p JOIN d2 ON p.vec_id = d2.vec_id, c2),
       |s3 AS (SELECT vec_id, mind FROM d3 ORDER BY mind DESC, vec_id LIMIT 1)
       |SELECT CAST(0 AS INTEGER) AS seed_idx, id AS vec_id,
       |       CAST(0 AS BIGINT) AS dist_fp FROM c0
       |UNION ALL SELECT CAST(1 AS INTEGER), vec_id, mind FROM s1
       |UNION ALL SELECT CAST(2 AS INTEGER), vec_id, mind FROM s2
       |UNION ALL SELECT CAST(3 AS INTEGER), vec_id, mind FROM s3
       |ORDER BY seed_idx""".stripMargin)

  /** IVF-PQ two-stage ANN serving around corpus vector 42: coarse lists
    * prune the corpus to 2 of 16 probe lists, PQ-ADC re-ranks within. */
  private def qIvfPqTopK(s: SparkSession, d: String): DataFrame =
    Vectors.ivfPqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 42L, nCentroids = 16, probes = 2, m = 4, k = 16, topK = 10)
      .withColumnRenamed("id", "vec_id")
  // IVF-PQ two-stage serving: probe lists by the double-cosine rule
  // (exact integer inputs + correctly-rounded IEEE ops = engine-equal),
  // PQ-ADC re-rank within the probed lists only
  query("q_ivfpq_topk", qIvfPqTopK,
    s"""WITH $fpVecCte,
       |cb AS (SELECT vec_id AS cid, fv AS cfv FROM fp WHERE vec_id < 16),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |q AS (SELECT fv AS qfv, nn AS qn FROM nv WHERE vec_id = 42),
       |cents AS (SELECT vec_id AS cent_id, fv AS cent_v, nn AS cent_n
       |          FROM nv WHERE vec_id < 16 AND nn > 0),
       |probe AS (
       |  SELECT cent_id FROM (
       |    SELECT cents.cent_id,
       |           row_number() OVER (ORDER BY
       |             CAST(list_sum(list_transform(range(1, len(q.qfv) + 1), i -> q.qfv[i] * cents.cent_v[i])) AS DOUBLE)
       |             / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(cents.cent_n AS DOUBLE))) DESC,
       |             cents.cent_id ASC) AS r
       |    FROM q, cents)
       |  WHERE r <= 2),
       |casgn AS (
       |  SELECT c_id, cent_id FROM (
       |    SELECT v.vec_id AS c_id, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             CAST(list_sum(list_transform(range(1, len(v.fv) + 1), i -> v.fv[i] * cents.cent_v[i])) AS DOUBLE)
       |             / (sqrt(CAST(v.nn AS DOUBLE)) * sqrt(CAST(cents.cent_n AS DOUBLE))) DESC,
       |             cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0)
       |  WHERE r = 1),
       |cand AS (SELECT c_id FROM casgn JOIN probe USING (cent_id)),
       |pairs AS (
       |  SELECT v.vec_id, js.j, cb.cid,
       |         list_sum(list_transform(range(1, 17), i ->
       |           (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i])
       |           * (v.fv[js.j*16 + i] - cb.cfv[js.j*16 + i]))) AS dist
       |  FROM fp v, js, cb WHERE v.vec_id IN (SELECT c_id FROM cand)),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT vec_id, j, cid,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
       |    FROM pairs) WHERE rn = 1),
       |lut AS (
       |  SELECT js.j, cb.cid,
       |         list_sum(list_transform(range(1, 17), i ->
       |           (q.qfv[js.j*16 + i] - cb.cfv[js.j*16 + i])
       |           * (q.qfv[js.j*16 + i] - cb.cfv[js.j*16 + i]))) AS d
       |  FROM q, js, cb)
       |SELECT c.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
       |FROM codes c JOIN lut l ON c.j = l.j AND c.cid = l.cid
       |GROUP BY c.vec_id
       |ORDER BY adc_dist, c.vec_id LIMIT 10""".stripMargin)

  /** Per-label embedding centroid drift between store halves (see
    * Vectors.centroidDrift): id-parity split, exact integer
    * centroids, L1 + dot/norm sufficient statistics per label. */
  private def qEmbeddingDrift(s: SparkSession, d: String): DataFrame =
    Vectors.centroidDrift(t(s, d, "embeddings"), "label", "vec_id", "embedding")
      .orderBy(col("label"))
  // Per-label centroid drift between id-parity halves: exact integer
  // centroids (fp6 sums, truncating mean), L1 + dot/norm statistics.
  query("q_embedding_drift", qEmbeddingDrift,
    """WITH f AS (
      |  SELECT label, vec_id % 2 AS half, u.i AS ord,
      |         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      |  WHERE embedding IS NOT NULL),
      |s AS (SELECT label, half, ord, SUM(x) AS sx FROM f GROUP BY 1, 2, 3),
      |nn AS (SELECT label, vec_id % 2 AS half, count(*) AS n FROM embeddings
      |       WHERE embedding IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT s.label, s.half, ord, sx // n AS cx, n
      |      FROM s JOIN nn ON nn.label = s.label AND nn.half = s.half)
      |SELECT e.label,
      |       CAST(e.n AS BIGINT) AS n_even, CAST(o.n AS BIGINT) AS n_odd,
      |       CAST(SUM(abs(e.cx - o.cx)) AS BIGINT) AS l1_fp,
      |       CAST(SUM(e.cx * o.cx) AS BIGINT) AS dot_fp,
      |       CAST(SUM(e.cx * e.cx) AS BIGINT) AS norm_e_fp,
      |       CAST(SUM(o.cx * o.cx) AS BIGINT) AS norm_o_fp
      |FROM c e JOIN c o ON e.label = o.label AND e.ord = o.ord
      |WHERE e.half = 0 AND o.half = 1
      |GROUP BY e.label, e.n, o.n
      |ORDER BY e.label""".stripMargin)

  private def qCosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  query("q_cosine_topk", qCosineTopK,
    s"""WITH $fpVecCte,
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM nv q, nv c
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND q.nn > 0 AND c.nn > 0),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 10
       |ORDER BY query_id, "rank"""".stripMargin)

  private def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.lshTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  query("q_ann_lsh", qAnnLsh,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5 AND q.nn > 0 AND c.nn > 0),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin)

  /** Multi-probe variant (query bucket + Hamming-1 neighbors) of the
    * sign-LSH top-k — higher recall at a bounded (bits+1)x candidate
    * cost; same index layout. */
  private def qAnnLshMp(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.lshTopKMultiProbe(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  // multi-probe: the query's own bucket plus each Hamming-1 neighbor
  // (one bit flipped); the corpus keeps one bucket per vector
  query("q_ann_lsh_mp", qAnnLshMp, {
    val flips = (1 to 4).map { i =>
      val flipped = s"CASE substring(bucket, $i, 1) WHEN '1' THEN '0' ELSE '1' END"
      s"SELECT vec_id, concat(substring(bucket, 1, ${i - 1}), $flipped, substring(bucket, ${i + 1})) AS bucket FROM b WHERE vec_id < 5"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |probes AS (
       |  SELECT vec_id, bucket FROM b WHERE vec_id < 5
       |  UNION ALL
       |  $flips),
       |$fpVecCte,
       |q AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN probes ON nv.vec_id = probes.vec_id),
       |c AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.nn > 0 AND c.nn > 0),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin
  })

  /** Radius-2 multi-probe at the AUTO width — the recall knob: at the
    * bits ~ log2 n width rule candidate cost stays constant under corpus
    * growth but per-neighbor co-bucket probability decays, so a recall
    * TARGET grows the probe RADIUS on an unchanged index (radius 2
    * recovered 2-3x recall at x10/x100 corpora). Probe set =
    * 1 + C(w,1) + C(w,2) plan-time keys (11 at the gate corpora's 4-bit
    * floor); index layout identical to q_ann_lsh / q_ann_lsh_mp. */
  private def qAnnLshMpR2(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.lshTopKMultiProbe(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5,
      radius = 2)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  // radius-2 multi-probe: the query's own bucket plus every key within
  // TWO bit flips (4 singles + 6 pairs at the pinned 4-bit gate width =
  // 11 probe keys) — the mirror of the engine's plan-time Hamming-ball
  // expansion exactly as q_ann_lsh_mp mirrors radius 1; corpus side
  // unchanged (one bucket per vector), probe keys distinct so each
  // (query, corpus) pair joins at most once
  query("q_ann_lsh_mp_r2", qAnnLshMpR2, {
    // flip the (sorted, 1-based) positions of `bucket` in one concat
    def flipExpr(pos: Seq[Int]): String = {
      def flip(i: Int) = s"CASE substring(bucket, $i, 1) WHEN '1' THEN '0' ELSE '1' END"
      val parts = scala.collection.mutable.ListBuffer[String]()
      var prev = 0
      pos.foreach { i =>
        if (i - 1 > prev) parts += s"substring(bucket, ${prev + 1}, ${i - 1 - prev})"
        parts += flip(i)
        prev = i
      }
      if (prev < 4) parts += s"substring(bucket, ${prev + 1})"
      parts.mkString("concat(", ", ", ")")
    }
    val flips = ((1 to 4).map(i => Seq(i)) ++
      (1 to 4).combinations(2).map(_.toSeq)).map { pos =>
      s"SELECT vec_id, ${flipExpr(pos)} AS bucket FROM b WHERE vec_id < 5"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |probes AS (
       |  SELECT vec_id, bucket FROM b WHERE vec_id < 5
       |  UNION ALL
       |  $flips),
       |$fpVecCte,
       |q AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN probes ON nv.vec_id = probes.vec_id),
       |c AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.nn > 0 AND c.nn > 0),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin
  })

  /** L = 4 independent LSH tables at the AUTO width — the OTHER end of
    * the recall-vs-cost deploy trade: where q_ann_lsh_mp_r2 widens the probe BALL on one
    * index, this row adds axis-disjoint hash TABLES (Vectors
    * .lshTopKMultiTable — table l hashes components [l*w, l*w + w)),
    * candidates are the union of the query's bucket across all 4 banks,
    * deduped per (query, match) pair before the shared bounded top-k.
    * Table 0 is bit-identical to q_ann_lsh's bank, so the candidate set
    * is a superset of the single-table row's and recall is structurally
    * >= at equal width. Cost: x4 index rows + 4|bucket| candidates per
    * query vs the ball's C(w,<=r) probe keys on x1 index — the L knob
    * stays linear where the ball grows combinatorially past radius 3
    * (Lv VLDB'07; recall 0.140/0.250/0.430 at L=1/2/4 on the gate
    * corpus). 4 tables x 4 bits = 16 of the 64
    * embedding components — inside the dimension budget at every SF. */
  private def qAnnLshT4(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.lshTopKMultiTable(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5,
      tables = 4)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  // L = 4 independent tables: table l buckets on components
  // [l*4 + 1, l*4 + 4] (axis-disjoint banks — the mirror of the
  // engine's signBucketAt offsets), candidates are the (tbl, bucket)
  // equi-join unioned across banks, deduped per (query, match) pair
  // (cosine is a pure function of the pair, so DISTINCT over the
  // triple is the exact pair dedup) before the shared
  // (cosine DESC, match_id ASC) top-5 — the independent mirror of
  // lshTopKMultiTable, not a hash back-feed
  query("q_ann_lsh_t4", qAnnLshT4, {
    def bucketAtExpr(off: Int): String =
      (1 to 4).map(i => s"CASE WHEN embedding[${off + i}] >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
    val banks = (0 until 4).map(l =>
      s"SELECT vec_id, $l AS tbl, ${bucketAtExpr(l * 4)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  $banks),
       |$fpVecCte,
       |q AS (SELECT nv.vec_id, fv, nn, tbl, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nv.vec_id < 5),
       |c AS (SELECT nv.vec_id, fv, nn, tbl, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |sc AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM q JOIN c ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.nn > 0 AND c.nn > 0),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin
  })

  private def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Vectors.ivfTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  query("q_ann_ivf", qAnnIvf, {
    val cosQC =
      "CAST(list_sum(list_transform(range(1, len(q_v) + 1), i -> q_v[i] * c_v[i])) AS DOUBLE)" +
        " / (sqrt(CAST(q_n AS DOUBLE)) * sqrt(CAST(c_n AS DOUBLE)))"
    val centCos =
      "CAST(list_sum(list_transform(range(1, len(v.fv) + 1), i -> v.fv[i] * cents.cent_v[i])) AS DOUBLE)" +
        " / (sqrt(CAST(v.nn AS DOUBLE)) * sqrt(CAST(cents.cent_n AS DOUBLE)))"
    s"""WITH $fpVecCte,
       |cents AS (SELECT vec_id AS cent_id, fv AS cent_v, nn AS cent_n
       |          FROM nv WHERE vec_id < 16 AND nn > 0),
       |casgn AS (
       |  SELECT c_id, c_v, c_n, cent_id FROM (
       |    SELECT v.vec_id AS c_id, v.fv AS c_v, v.nn AS c_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY $centCos DESC, cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0)
       |  WHERE r = 1),
       |qasgn AS (
       |  SELECT q_id, q_v, q_n, cent_id FROM (
       |    SELECT v.vec_id AS q_id, v.fv AS q_v, v.nn AS q_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY $centCos DESC, cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0 AND v.vec_id < 5)
       |  WHERE r <= 4),
       |sc AS (
       |  SELECT DISTINCT q_id AS query_id, c_id AS match_id, $cosQC AS cosine
       |  FROM qasgn JOIN casgn USING (cent_id) WHERE c_id <> q_id),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin
  })

  /** IVF with the TRAINED coarse quantizer (Vectors.trainCentroids — two
    * deterministic Lloyd iterations of integer-mean spherical k-means,
    * id-seeded init) feeding ivfTopKWith. The spec shows the trained
    * quantizer beats the seed path on recall (1.00 vs 0.95 @10); this row
    * puts the trained path itself under the oracle gate — every step
    * (init, argmax assignment, truncating integer-mean update,
    * empty-cluster carry-over) is mirrored in DuckDB SQL. */
  private def qAnnIvfTrained(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cents = Vectors.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    Vectors.ivfTopKWith(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, nProbe = 4, cents = cents)
      .select(col("query_id"), col("match_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  // Trained-IVF mirror: two unrolled Lloyd iterations of the
  // deterministic integer-mean spherical k-means (init = 8 smallest-id
  // non-zero vectors, assignment = (cosine DESC, cent_id ASC) argmax,
  // update = truncating integer mean — DuckDB's `//` truncates toward
  // zero exactly like the engine's Long division — empty clusters keep
  // their previous centroid), then the IVF probe/scan of q_ann_ivf
  // against the trained centroids.
  query("q_ann_ivf_trained", qAnnIvfTrained, {
    def vcCos(v: String, c: String) =
      s"CAST(list_sum(list_transform(range(1, len($v.fv) + 1), i -> $v.fv[i] * $c.cent_v[i])) AS DOUBLE)" +
        s" / (sqrt(CAST($v.nn AS DOUBLE)) * sqrt(CAST($c.cent_n AS DOUBLE)))"
    val cosQC =
      "CAST(list_sum(list_transform(range(1, len(q_v) + 1), i -> q_v[i] * c_v[i])) AS DOUBLE)" +
        " / (sqrt(CAST(q_n AS DOUBLE)) * sqrt(CAST(c_n AS DOUBLE)))"
    // one Lloyd iteration: assign to prev centroids, integer-mean update
    def iter(i: Int, prev: String): String =
      s"""a$i AS (
         |  SELECT c_id, c_v, cent_id FROM (
         |    SELECT v.vec_id AS c_id, v.fv AS c_v, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${vcCos("v", "c")} DESC,
         |                                       c.cent_id ASC) AS r
         |    FROM nv v, $prev c WHERE v.nn > 0)
         |  WHERE r = 1),
         |e$i AS (SELECT cent_id, unnest(range(1, len(c_v) + 1)) AS pos,
         |               unnest(c_v) AS val FROM a$i),
         |s$i AS (SELECT cent_id, pos, CAST(sum(val) AS BIGINT) AS s,
         |               count(*) AS n FROM e$i GROUP BY cent_id, pos),
         |m$i AS (SELECT cent_id, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cent_v
         |        FROM s$i GROUP BY cent_id),
         |c$i AS (
         |  SELECT p.cent_id, coalesce(m.cent_v, p.cent_v) AS cent_v,
         |         CAST(list_sum(list_transform(coalesce(m.cent_v, p.cent_v),
         |                                      x -> x * x)) AS BIGINT) AS cent_n
         |  FROM $prev p LEFT JOIN m$i m USING (cent_id))""".stripMargin
    s"""WITH $fpVecCte,
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cent_id,
       |         fv AS cent_v, nn AS cent_n
       |  FROM (SELECT vec_id, fv, nn FROM nv WHERE nn > 0 ORDER BY vec_id LIMIT 8)),
       |${iter(1, "c0")},
       |${iter(2, "c1")},
       |cents AS (SELECT cent_id, cent_v, cent_n FROM c2 WHERE cent_n > 0),
       |casgn AS (
       |  SELECT c_id, c_v, c_n, cent_id FROM (
       |    SELECT v.vec_id AS c_id, v.fv AS c_v, v.nn AS c_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${vcCos("v", "cents")} DESC,
       |                                       cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0)
       |  WHERE r = 1),
       |qasgn AS (
       |  SELECT q_id, q_v, q_n, cent_id FROM (
       |    SELECT v.vec_id AS q_id, v.fv AS q_v, v.nn AS q_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${vcCos("v", "cents")} DESC,
       |                                       cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0 AND v.vec_id < 5)
       |  WHERE r <= 4),
       |sc AS (
       |  SELECT DISTINCT q_id AS query_id, c_id AS match_id, $cosQC AS cosine
       |  FROM qasgn JOIN casgn USING (cent_id) WHERE c_id <> q_id),
       |r AS (
       |  SELECT query_id, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT query_id, match_id, cosine, "rank" FROM r WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin
  })

  /** Approximate kNN graph over the embedding corpus
    * (Vectors.knnGraph): bucket equi-self-join + bounded top-k — the
    * input artifact of graph-based curation. */
  private def qKnnGraph(s: SparkSession, d: String): DataFrame =
    Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding", k = 3)
      .orderBy(col("src_id"), col("rank"))
  // kNN graph: bucket-mate scoring mirrored, per-source row_number
  // with the (cosine DESC, id ASC) contract of TopKByScore.
  query("q_knn_graph", qKnnGraph,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc)
       |SELECT src_id, dst_id, cosine, "rank" FROM r WHERE "rank" <= 3
       |ORDER BY src_id, "rank"""".stripMargin)

  private def qEmbedNearDup(s: SparkSession, d: String): DataFrame =
    Vectors.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
      threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))
  query("q_embed_neardup", qEmbedNearDup,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id)
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |       ${cosineExpr("x", "y")} AS cosine
       |FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE x.nn > 0 AND y.nn > 0
       |  AND ${cosineExpr("x", "y")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin)

  /** Per-label embedding centroids + pairwise inter-label cosine — the
    * "domain map" of the embedded corpus (Vectors.groupCentroidCosines:
    * one ArraySumFp hash-aggregate to #labels rows, truncating integer
    * mean so products stay BIGINT-exact at any group size, pairwise
    * cosine over the tiny centroid table). The gated output is the exact
    * integer triple (dot_fp, norm_a_fp, norm_b_fp); the derived `cos`
    * double stays out of the hash contract (libm results are not
    * cross-engine portable). */
  private def qCentroidCosine(s: SparkSession, d: String): DataFrame =
    Vectors.groupCentroidCosines(t(s, d, "embeddings"), "label", "embedding")
      .drop("cos")
      .orderBy(col("group_a"), col("group_b"))
  // Per-label centroid map: exact fp6 element sums, truncating integer
  // mean (DuckDB // ≡ Spark div, both toward zero), BIGINT-exact
  // dot/norms. The HASHED contract is integer-only — dot_fp and the two
  // squared norms as explicit BIGINTs (an uncast SUM(BIGINT)
  // is HUGEINT in DuckDB, which the driver's comparer converts through a
  // non-int path and hash-mismatches; cosine is derivable downstream and
  // stays out of the gate).
  query("q_centroid_cosine", qCentroidCosine,
    """WITH f AS (
      |  SELECT label, u.i AS ord,
      |         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      |  WHERE embedding IS NOT NULL),
      |s AS (SELECT label, ord, SUM(x) AS sx FROM f GROUP BY label, ord),
      |nn AS (SELECT label, count(*) AS n FROM embeddings
      |       WHERE embedding IS NOT NULL GROUP BY label),
      |c AS (SELECT s.label, ord, sx // n AS cx, n FROM s JOIN nn USING (label))
      |SELECT a.label AS group_a, b.label AS group_b,
      |       a.n AS n_a, b.n AS n_b,
      |       CAST(SUM(a.cx * b.cx) AS BIGINT) AS dot_fp,
      |       CAST(SUM(a.cx * a.cx) AS BIGINT) AS norm_a_fp,
      |       CAST(SUM(b.cx * b.cx) AS BIGINT) AS norm_b_fp
      |FROM c a JOIN c b ON a.ord = b.ord AND a.label < b.label
      |GROUP BY a.label, b.label, a.n, b.n
      |ORDER BY group_a, group_b""".stripMargin)

  /** Per-label embedding DISPERSION sufficient statistics
    * (Vectors.labelScatterStats): exact integer (n, Σq, Σq²) per
    * (label, dim) over fp3-quantized components — the intra-class
    * scatter audit behind SemDeDup-style pruning and label-noise
    * triage; variance/trace are derived display values outside the
    * hash gate. One aggregate to #labels rows; posexplode runs after
    * aggregation. */
  private def qEmbedDispersion(s: SparkSession, d: String): DataFrame =
    Vectors.labelScatterStats(t(s, d, "embeddings"), "label", "embedding")
      .orderBy(col("label"), col("dim"))
  // Per-(label, dim) scatter sufficient statistics: fp6 HALF_UP round
  // then one truncating // 1000 (both toward zero in both engines);
  // n/Σq/Σq² exact BIGINTs.
  query("q_embed_dispersion", qEmbedDispersion,
    """WITH q AS (
      |  SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
      |         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT) // 1000 AS qv
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      |  WHERE embedding IS NOT NULL)
      |SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(qv) AS BIGINT) AS sx,
      |       CAST(sum(qv * qv) AS BIGINT) AS sxx
      |FROM q GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin)

  /** ANN RECALL evaluation — recall@10 of the sign-LSH retriever
    * against brute-force truth, per query, in integer permille: the
    * acceptance gate every approximate index must pass before it
    * replaces exact scoring in production. Both retrievers are
    * deterministic (total (cosine DESC, id) order), so the overlap
    * count is engine-exact; the eval tables are O(queries·k) rows. */
  private def qAnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val bf = Vectors.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
      .select(col("query_id"), col("match_id"))
    val lsh = Vectors.lshTopK(qs, emb, "vec_id", "embedding", 10)
      .select(col("query_id"), col("match_id"))
    val nBf = bf.groupBy(col("query_id")).agg(count(lit(1)).as("n_bf"))
    val hits = bf.join(lsh, Seq("query_id", "match_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    nBf.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_bf"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_permille", expr("n_hit * 1000 div n_bf"))
      .orderBy(col("query_id"))
  }
  // ANN recall eval: both retrievers are deterministic total orders,
  // so recall@10 is an exact integer ratio.
  query("q_ann_recall", qAnnRecall,
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id),
       |bf AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY ${cosineExpr("q", "c")} DESC, c.vec_id ASC) AS rk
       |    FROM nv q, nv c
       |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND q.nn > 0 AND c.nn > 0)
       |  WHERE rk <= 10),
       |ls AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY ${cosineExpr("q", "c")} DESC, c.vec_id ASC) AS rk
       |    FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5 AND q.nn > 0 AND c.nn > 0)
       |  WHERE rk <= 10),
       |nb AS (SELECT query_id, count(*) AS n_bf FROM bf GROUP BY query_id),
       |ht AS (SELECT bf.query_id, count(*) AS n_hit
       |       FROM bf JOIN ls ON bf.query_id = ls.query_id AND bf.match_id = ls.match_id
       |       GROUP BY bf.query_id)
       |SELECT nb.query_id, nb.n_bf, COALESCE(ht.n_hit, 0) AS n_hit,
       |       COALESCE(ht.n_hit, 0) * 1000 // nb.n_bf AS recall_permille
       |FROM nb LEFT JOIN ht ON nb.query_id = ht.query_id
       |ORDER BY nb.query_id""".stripMargin)

  /** IVF recall gate: recall@10 of the seeded IVF index
    * (nProbe=4 of 16 lists) against brute-force truth for the probe
    * queries — the q_ann_recall discipline applied to the second index
    * family, guarding the nProbe/nCentroids knobs the way the LSH row
    * guards auto-bits. Truth and index candidates are both bounded
    * top-k aggregates; the compare is a left-semi on (query, match). */
  private def qIvfRecall(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val bf = Vectors.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
      .select(col("query_id"), col("match_id"))
    val ivf = Vectors.ivfTopK(qs, emb, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4)
      .select(col("query_id"), col("match_id"))
    val nBf = bf.groupBy(col("query_id")).agg(count(lit(1)).as("n_bf"))
    val hits = bf.join(ivf, Seq("query_id", "match_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    nBf.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_bf"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_permille", expr("n_hit * 1000 div n_bf"))
      .orderBy(col("query_id"))
  }
  // IVF recall gate: brute-force truth vs the seeded-IVF candidate
  // top-10 (q_ann_ivf's CTEs at k=10), integer-permille recall.
  query("q_ivf_recall", qIvfRecall, {
    val cosQC =
      "CAST(list_sum(list_transform(range(1, len(q_v) + 1), i -> q_v[i] * c_v[i])) AS DOUBLE)" +
        " / (sqrt(CAST(q_n AS DOUBLE)) * sqrt(CAST(c_n AS DOUBLE)))"
    val centCos =
      "CAST(list_sum(list_transform(range(1, len(v.fv) + 1), i -> v.fv[i] * cents.cent_v[i])) AS DOUBLE)" +
        " / (sqrt(CAST(v.nn AS DOUBLE)) * sqrt(CAST(cents.cent_n AS DOUBLE)))"
    s"""WITH $fpVecCte,
       |bf AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY ${cosineExpr("q", "c")} DESC, c.vec_id ASC) AS rk
       |    FROM nv q, nv c
       |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND q.nn > 0 AND c.nn > 0)
       |  WHERE rk <= 10),
       |cents AS (SELECT vec_id AS cent_id, fv AS cent_v, nn AS cent_n
       |          FROM nv WHERE vec_id < 16 AND nn > 0),
       |casgn AS (
       |  SELECT c_id, c_v, c_n, cent_id FROM (
       |    SELECT v.vec_id AS c_id, v.fv AS c_v, v.nn AS c_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY $centCos DESC, cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0)
       |  WHERE r = 1),
       |qasgn AS (
       |  SELECT q_id, q_v, q_n, cent_id FROM (
       |    SELECT v.vec_id AS q_id, v.fv AS q_v, v.nn AS q_n, cents.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY $centCos DESC, cents.cent_id ASC) AS r
       |    FROM nv v, cents WHERE v.nn > 0 AND v.vec_id < 5)
       |  WHERE r <= 4),
       |sc AS (
       |  SELECT DISTINCT q_id AS query_id, c_id AS match_id, $cosQC AS cosine
       |  FROM qasgn JOIN casgn USING (cent_id) WHERE c_id <> q_id),
       |iv AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT query_id, match_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cosine DESC, match_id ASC) AS rk
       |    FROM sc)
       |  WHERE rk <= 10),
       |nb AS (SELECT query_id, count(*) AS n_bf FROM bf GROUP BY query_id),
       |ht AS (SELECT bf.query_id, count(*) AS n_hit
       |       FROM bf JOIN iv ON bf.query_id = iv.query_id AND bf.match_id = iv.match_id
       |       GROUP BY bf.query_id)
       |SELECT nb.query_id, nb.n_bf, COALESCE(ht.n_hit, 0) AS n_hit,
       |       COALESCE(ht.n_hit, 0) * 1000 // nb.n_bf AS recall_permille
       |FROM nb LEFT JOIN ht ON nb.query_id = ht.query_id
       |ORDER BY nb.query_id""".stripMargin
  })

  /** Rademacher (JL) random projection of the embedding store to 16
    * dims (Vectors.rademacherProject): compile-time ±1 sign literals,
    * one codegen DotProductFp per output dim, zero exchange. */
  private def qRandomProjection(s: SparkSession, d: String): DataFrame =
    Vectors.rademacherProject(t(s, d, "embeddings"), "vec_id", "embedding",
        inDim = 64, outDim = 16)
      .orderBy(col("vec_id"), col("out_dim"))
  // JL projection: the ±1 matrix regenerates from md5("j:i") parity in
  // any engine; components are exact integer dots of fp6 vectors.
  query("q_random_projection", qRandomProjection,
    """WITH fp AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fv
      |  FROM embeddings),
      |m AS (
      |  SELECT j.j AS j, i.i AS i,
      |         CASE WHEN CAST(concat('0x', substring(md5(j.j || ':' || i.i), 1, 15)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE -1 END AS s
      |  FROM range(16) j(j), range(64) i(i)),
      |e AS (SELECT vec_id, i.i AS i, fv[i.i + 1] AS v FROM fp, range(64) i(i))
      |SELECT e.vec_id, CAST(m.j AS INTEGER) AS out_dim,
      |       CAST(SUM(e.v * m.s) AS BIGINT) AS comp_fp6
      |FROM e JOIN m ON m.i = e.i
      |GROUP BY e.vec_id, m.j
      |ORDER BY vec_id, out_dim""".stripMargin)

  /** Int8 scalar quantization of the embedding store, exploded to
    * (vec_id, pos, code) for the exact compare. */
  private def qQuantizeEmbed(s: SparkSession, d: String): DataFrame =
    Vectors.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
      .select(col("id").as("vec_id"), posexplode(col("codes")),
        col("q_min"), col("q_max"))
      .withColumnRenamed("col", "code")
      .orderBy(col("vec_id"), col("pos"))
  // Every arithmetic step mirrors Vectors.quantizeInt8 op-for-op
  // (float→double promotion, one multiply, one divide, round); both
  // engines round positive halves away from zero.
  query("q_quantize_embed", qQuantizeEmbed,
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_min(embedding) AS DOUBLE) AS mn,
      |         CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings)
      |SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS pos,
      |       CAST(CASE WHEN mx = mn THEN 0
      |                 ELSE round((CAST(embedding[u.i] AS DOUBLE) - mn) * 255.0 / (mx - mn))
      |            END AS INTEGER) AS code,
      |       mn AS q_min, mx AS q_max
      |FROM q, unnest(range(1, len(embedding) + 1)) AS u(i)
      |ORDER BY vec_id, pos""".stripMargin)

  /** MMR diversified rerank (see similarity.Vectors.mmrRerank):
    * top-8 cosine pool for query vector 42, greedy λ=0.5 selection of
    * 4; hashed contract is integer-only (rank, id, rel dot, norm). */
  private def qMmrRerank(s: SparkSession, d: String): DataFrame =
    Vectors.mmrRerank(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 42L, poolK = 8, k = 4)
      .orderBy(col("mmr_rank"))
  // MMR diversified rerank, greedy selection UNROLLED (k = 4 picks from
  // the 8-candidate cosine pool of query 42, λ = 0.5 ⇒ order by
  // rel − maxSim). Comparisons run on doubles built from exact
  // integers by correctly-rounded ops with the engine's expression
  // tree; the hashed output is integer-only.
  query("q_mmr_rerank", qMmrRerank, {
    def pick(sel: String, rem: String) =
      s"""  SELECT vec_id, rel_dot, nnb, rel FROM (
         |    SELECT r.vec_id, r.rel_dot, r.nnb, r.rel, r.rel - max(s.cs) AS mmr
         |    FROM $rem r JOIN sims s ON s.ia = r.vec_id
         |                JOIN $sel ss ON s.ib = ss.vec_id
         |    GROUP BY r.vec_id, r.rel_dot, r.nnb, r.rel)
         |  ORDER BY mmr DESC, vec_id LIMIT 1""".stripMargin
    s"""WITH $fpVecCte,
       |q AS (SELECT fv, nn FROM nv WHERE vec_id = 42 AND nn > 0),
       |pool AS (
       |  SELECT c.vec_id, c.fv, CAST(c.nn AS BIGINT) AS nnb,
       |         CAST(list_sum(list_transform(range(1, len(c.fv) + 1), i -> c.fv[i] * q.fv[i])) AS BIGINT) AS rel_dot,
       |         CAST(list_sum(list_transform(range(1, len(c.fv) + 1), i -> c.fv[i] * q.fv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE))) AS rel
       |  FROM nv c, q WHERE c.vec_id <> 42 AND c.nn > 0
       |  ORDER BY rel DESC, c.vec_id LIMIT 8),
       |sims AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         CAST(list_sum(list_transform(range(1, len(a.fv) + 1), i -> a.fv[i] * b.fv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nnb AS DOUBLE)) * sqrt(CAST(b.nnb AS DOUBLE))) AS cs
       |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel_dot, nnb, rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
       |s2 AS (
       |${pick("s1", "(SELECT * FROM pool WHERE vec_id NOT IN (SELECT vec_id FROM s1))")}),
       |sel12 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
       |s3 AS (
       |${pick("sel12", "(SELECT * FROM pool WHERE vec_id NOT IN (SELECT vec_id FROM sel12))")}),
       |sel123 AS (SELECT vec_id FROM sel12 UNION ALL SELECT vec_id FROM s3),
       |s4 AS (
       |${pick("sel123", "(SELECT * FROM pool WHERE vec_id NOT IN (SELECT vec_id FROM sel123))")}),
       |sel AS MATERIALIZED (
       |  SELECT 1 AS mmr_rank, vec_id, rel_dot, nnb FROM s1
       |  UNION ALL SELECT 2, vec_id, rel_dot, nnb FROM s2
       |  UNION ALL SELECT 3, vec_id, rel_dot, nnb FROM s3
       |  UNION ALL SELECT 4, vec_id, rel_dot, nnb FROM s4)
       |SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id,
       |       rel_dot AS rel_dot_fp, nnb AS norm_fp
       |FROM sel ORDER BY mmr_rank""".stripMargin
  })

  /** kNN-graph triangle census (see ops.Graphs.triangleCounts):
    * local clustering of the q_knn_graph edge set (k=3, data-sized
    * sign-LSH candidates — Vectors.bitsFor), per-vertex degree + exact
    * triangle count. */
  private def qKnnTriangles(s: SparkSession, d: String): DataFrame =
    graft.ops.Graphs.triangleCounts(
        Vectors.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 3),
        "src_id", "dst_id")
      .withColumnRenamed("v", "vec_id")
      .orderBy(col("vec_id"))
  // kNN-graph triangle census: the q_knn_graph edge set (rank <= 3)
  // canonicalized to distinct low<high pairs, triangles via the
  // ordered two-join enumeration, per-vertex corner counts.
  query("q_knn_triangles", qKnnTriangles,
    s"""WITH bk AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN bk ON nv.vec_id = bk.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |ed AS (
       |  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS z
       |  FROM r WHERE "rank" <= 3),
       |deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT a AS v FROM ed UNION ALL SELECT z AS v FROM ed)
       |  GROUP BY v),
       |tri AS (
       |  SELECT e1.a AS x, e1.z AS y, e2.z AS w
       |  FROM ed e1 JOIN ed e2 ON e1.z = e2.a
       |             JOIN ed e3 ON e3.a = e1.a AND e3.z = e2.z),
       |pv AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM (SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
       |        UNION ALL SELECT w AS v FROM tri)
       |  GROUP BY v)
       |SELECT deg.v AS vec_id, degree,
       |       CAST(COALESCE(pv.n_triangles, 0) AS BIGINT) AS n_triangles
       |FROM deg LEFT JOIN pv ON deg.v = pv.v
       |ORDER BY vec_id""".stripMargin)

  /** Contrastive triplet mining (see
    * similarity.Vectors.contrastiveTriplets): anchors vec_id < 5,
    * data-sized sign-LSH candidates, positive = in-bucket top-1, hard
    * negatives = top-3 below cosine 0.9. */
  private def qHardNegatives(s: SparkSession, d: String): DataFrame =
    Vectors.contrastiveTriplets(t(s, d, "embeddings"), "vec_id", "embedding",
        anchorPred = col("vec_id") < 5, posMax = 0.9, k = 3)
      .orderBy(col("anchor_id"), col("role"), col("rank"))
  // Contrastive triplet mining: in-bucket candidates, positive = top-1,
  // hard negatives = top-3 below cosine 0.9 (exact-int-ratio doubles).
  query("q_hard_negatives", qHardNegatives,
    s"""WITH bk AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN bk ON nv.vec_id = bk.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT q.vec_id AS anchor_id, c.vec_id AS match_id,
       |         ${cosineExpr("q", "c")} AS cosine
       |  FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |pos AS (
       |  SELECT anchor_id, 'pos' AS role, match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY anchor_id
       |                                 ORDER BY cosine DESC, match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |p1 AS (SELECT anchor_id, match_id FROM pos WHERE "rank" = 1),
       |neg AS (
       |  SELECT sc.anchor_id, 'neg' AS role, sc.match_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY sc.anchor_id
       |                                 ORDER BY cosine DESC, sc.match_id ASC) AS INTEGER) AS "rank"
       |  FROM sc ANTI JOIN p1
       |    ON sc.anchor_id = p1.anchor_id AND sc.match_id = p1.match_id
       |  WHERE cosine < 0.9)
       |SELECT anchor_id, role, match_id, cosine, "rank"
       |FROM (SELECT * FROM pos WHERE "rank" <= 1
       |      UNION ALL SELECT * FROM neg WHERE "rank" <= 3)
       |ORDER BY anchor_id, role, "rank"""".stripMargin)

  /** kNN-graph LABEL PROPAGATION (ops.Graphs.labelPropagation):
    * sparse seeds (vec_id % 17 == 0, ~6% of the store) hard-majority
    * propagate over the auto-bits k=3 kNN graph for 2 unrolled rounds —
    * the annotate-a-sliver, propagate-the-rest labeling pass of a
    * large-corpus curation pipeline. Output: every vector's propagated
    * label + the round it was reached (−1 = unreached). */
  private def qLabelProp(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.ops.Graphs.labelPropagation(
        emb.select(col("vec_id").as("id"), col("label"),
          (col("vec_id") % 17 === 0).as("is_seed")),
        Vectors.knnGraph(emb, "vec_id", "embedding", k = 3),
        "src_id", "dst_id", rounds = 2)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }
  // kNN-graph label propagation: the q_knn_graph edge CTE (rank <= 3)
  // + 2 unrolled hard-majority rounds; the majority argmax mirrors
  // the engine's max(struct(c, -label)) as row_number ORDER BY
  // (c DESC, lab ASC). Integer-exact end to end.
  query("q_label_prop", qLabelProp, {
    def round(r: Int): String =
      s"""v$r AS MATERIALIZED (
         |  SELECT e.src, c.lab, CAST(count(*) AS BIGINT) AS c
         |  FROM edges e JOIN lp${r - 1} c ON c.id = e.dst
         |  WHERE c.lab IS NOT NULL GROUP BY 1, 2),
         |w$r AS MATERIALIZED (
         |  SELECT src AS id, lab AS wlab FROM (
         |    SELECT src, lab,
         |           row_number() OVER (PARTITION BY src ORDER BY c DESC, lab ASC) AS rn
         |    FROM v$r)
         |  WHERE rn = 1),
         |lp$r AS MATERIALIZED (
         |  SELECT p.id, COALESCE(p.lab, w.wlab) AS lab,
         |         CASE WHEN p.lab IS NOT NULL THEN p.rnd
         |              WHEN w.wlab IS NOT NULL THEN $r ELSE -1 END AS rnd
         |  FROM lp${r - 1} p LEFT JOIN w$r w ON w.id = p.id)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |edges AS MATERIALIZED (SELECT src_id AS src, dst_id AS dst FROM r WHERE "rank" <= 3),
       |lp0 AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |         CASE WHEN vec_id % 17 = 0 THEN label END AS lab,
       |         CASE WHEN vec_id % 17 = 0 THEN 0 ELSE -1 END AS rnd
       |  FROM embeddings),
       |${round(1)},
       |${round(2)}
       |SELECT id AS vec_id,
       |       CAST(COALESCE(lab, -1) AS INTEGER) AS prop_label,
       |       CAST(rnd AS INTEGER) AS round_labeled
       |FROM lp2 ORDER BY vec_id""".stripMargin
  })

  /** kNN-graph K-CORE PEEL (ops.Graphs.kcorePeel): 3 unrolled
    * peel rounds at k=4 over the undirected auto-bits k=3 kNN graph —
    * the density filter separating dense semantic clusters (the core)
    * from the outlier fringe a corpus selector down-weights; peel_round
    * is the coreness proxy. Vertices = every embedding id (nn=0 rows
    * are isolated and peel in round 1 with degree 0). */
  private def qKcore(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.ops.Graphs.kcorePeel(
        emb.select(col("vec_id").as("id")),
        Vectors.knnGraph(emb, "vec_id", "embedding", k = 3),
        "src_id", "dst_id", k = 4, rounds = 3)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }
  // kNN-graph k-core peel: the q_knn_graph edge CTE canonicalized
  // undirected + 3 unrolled peel rounds at k=4; per round, degrees are
  // recomputed over the surviving subgraph and deg<4 vertices peel.
  // Survivors report their round-3 degree (the engine's uniform
  // "degree at the last round the vertex participated in" contract).
  query("q_kcore", qKcore, {
    def round(r: Int): String =
      s"""e$r AS MATERIALIZED (
         |  SELECT und.a, und.b FROM und
         |  JOIN s${r - 1} sa ON und.a = sa.id
         |  JOIN s${r - 1} sb ON und.b = sb.id),
         |d$r AS MATERIALIZED (
         |  SELECT s.id, CAST(COALESCE(c.c, 0) AS BIGINT) AS deg
         |  FROM s${r - 1} s LEFT JOIN (
         |    SELECT id, count(*) AS c FROM (
         |      SELECT a AS id FROM e$r UNION ALL SELECT b AS id FROM e$r)
         |    GROUP BY 1) c ON c.id = s.id),
         |p$r AS MATERIALIZED (
         |  SELECT id, $r AS peel_round, deg AS last_deg FROM d$r WHERE deg < 4),
         |s$r AS MATERIALIZED (SELECT id, deg FROM d$r WHERE deg >= 4)""".stripMargin
    s"""WITH b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
       |  FROM r WHERE "rank" <= 3 AND src_id <> dst_id),
       |s0 AS MATERIALIZED (SELECT DISTINCT vec_id AS id FROM embeddings),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT id AS vec_id, CAST(peel_round AS INTEGER) AS peel_round,
       |       CAST(last_deg AS BIGINT) AS last_deg
       |FROM (
       |  SELECT id, -1 AS peel_round, deg AS last_deg FROM s3
       |  UNION ALL SELECT id, peel_round, last_deg FROM p1
       |  UNION ALL SELECT id, peel_round, last_deg FROM p2
       |  UNION ALL SELECT id, peel_round, last_deg FROM p3)
       |ORDER BY vec_id""".stripMargin
  })

  /** Cross-dimension covariance sufficient statistics (see
    * similarity.Vectors.covarianceStats): exact-integer (n, Σqᵢ, Σqⱼ,
    * Σqᵢqⱼ) per dimension pair i ≤ j off ONE OuterProductSumFp pass;
    * covariance/whitening matrices are derived display values. */
  private def qEmbedCovariance(s: SparkSession, d: String): DataFrame =
    Vectors.covarianceStats(spread(t(s, d, "embeddings"), "vec_id"), "embedding")
  // Cross-dimension covariance sufficient stats: the oracle takes the
  // naive unnest²+self-join road (n·d(d+1)/2 rows — fine at sf0.01;
  // the engine's one-pass OuterProductSumFp is the scale path). The
  // quantizer is q_quantize_embed's formula verbatim.
  query("q_embed_covariance", qEmbedCovariance,
    """WITH q AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS dim,
      |         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT) // 1000 AS qv
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      |  WHERE embedding IS NOT NULL)
      |SELECT a.dim AS i, b.dim AS j,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(a.qv) AS BIGINT) AS sum_qi,
      |       CAST(sum(b.qv) AS BIGINT) AS sum_qj,
      |       CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_qq
      |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      |GROUP BY 1, 2
      |ORDER BY i, j""".stripMargin)

  /** Dominant covariance eigenvector by integer-renormalized power
    * iteration (Vectors.pcaPower): one OuterProductSumFp corpus
    * pass, O(d²) driver collect, 8 exact-BigInt iterations; plus the
    * explained-variance share. */
  private def qPcaPower(s: SparkSession, d: String): DataFrame =
    Vectors.pcaPower(spread(t(s, d, "embeddings"), "vec_id"), "embedding")
      .orderBy(col("dim"))
  // PCA power iteration: the engine collects the O(d^2)
  // covariance triangle and iterates driver-side in exact BigInt;
  // the oracle mirrors the IDENTICAL integer arithmetic as 8
  // unrolled matvec CTE rounds (AS MATERIALIZED, because un-hinted
  // CTE chains inline exponentially) with sign-split renormalizing division so floor == trunc
  // on nonnegatives in both engines. HUGEINT intermediates, BIGINT
  // outputs.
  query("q_pca_power", qPcaPower, pcaSql(projectMode = false))

  /** Centered PC1 projection of the whole store
    * (Vectors.pcaProject): one narrow scan dotting against the
    * broadcast-literal direction; shares the memoized covariance
    * collect with q_pca_power. */
  private def qPcaProject(s: SparkSession, d: String): DataFrame =
    Vectors.pcaProject(spread(t(s, d, "embeddings"), "vec_id"), "vec_id", "embedding")
  query("q_pca_project", qPcaProject, pcaSql(projectMode = true))

  /** Shared CTE prefix for the kNN-graph diagnostics: the auto-bits
    * (4 at every gate corpus) k-nearest-neighbor DIRECTED edges as
    * `dedges` plus the deduped UNDIRECTED edge list as `und(a, b)`. */
  private def knnUndCte(k: Int): String =
    s"""b AS (
       |  SELECT vec_id, $bucket4Expr AS bucket FROM embeddings),
       |$fpVecCte,
       |v AS (SELECT nv.vec_id, fv, nn, bucket FROM nv JOIN b ON nv.vec_id = b.vec_id
       |      WHERE nn > 0),
       |sc AS (
       |  SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
       |         ${cosineExpr("x", "y")} AS cosine
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |r AS (
       |  SELECT src_id, dst_id,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cosine DESC, dst_id ASC) AS INTEGER) AS "rank"
       |  FROM sc),
       |dedges AS MATERIALIZED (
       |  SELECT src_id AS src, dst_id AS dst FROM r WHERE "rank" <= $k),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM dedges)""".stripMargin

  /** Exact integer squared L2 between two fixed-point list columns. */
  private def sqDistExpr(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p.fv) + 1), " +
      s"i -> ($p.fv[i] - $c.fv[i]) * ($p.fv[i] - $c.fv[i])))"

  /** Shared generator for the PCA power-iteration oracles — mirrors
    * graft.similarity.Vectors.pcaPower/pcaProject with iters=8:
    * C(i,j) = n*sum_qq - s_i*s_j off the q_embed_covariance triangle,
    * v0(i) = 1e6 + i (the symmetry-breaking start both engines use —
    * an all-equal v0 can sit in a reflection-invariant subspace), each
    * round u = C*v then v = sgn(u)*(|u|*1e6 // max|u|) -- exact HUGEINT
    * arithmetic, identical to the engine's BigInt loop. */
  private def pcaSql(projectMode: Boolean): String = {
    val iters = 8
    val rounds = (1 to iters).map { k =>
      s"""u$k AS MATERIALIZED (
  SELECT cm.i AS dim, SUM(cm.c * p.v) AS u
  FROM cm JOIN v${k - 1} p ON p.dim = cm.j GROUP BY cm.i),
m$k AS MATERIALIZED (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u$k),
v$k AS MATERIALIZED (
  SELECT dim, CASE WHEN u < 0 THEN -((-u) * 1000000 // (SELECT m FROM m$k))
              ELSE u * 1000000 // (SELECT m FROM m$k) END AS v FROM u$k)"""
    }.mkString(",\n")
    val header =
      s"""WITH
q AS MATERIALIZED (
  SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS dim,
         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT) // 1000 AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
  WHERE embedding IS NOT NULL),
tri AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.qv) AS BIGINT) AS si,
         CAST(sum(b.qv) AS BIGINT) AS sj,
         CAST(sum(a.qv * b.qv) AS BIGINT) AS sqq
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2),
cm AS MATERIALIZED (
  SELECT i, j, CAST(n AS HUGEINT) * sqq - CAST(si AS HUGEINT) * sj AS c FROM tri
  UNION ALL
  SELECT j AS i, i AS j, CAST(n AS HUGEINT) * sqq - CAST(si AS HUGEINT) * sj AS c
  FROM tri WHERE i < j),
v0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST(1000000 + i AS HUGEINT) AS v FROM tri),
$rounds"""
    if (!projectMode)
      s"""$header,
cv AS MATERIALIZED (
  SELECT cm.i AS dim, SUM(cm.c * p.v) AS u
  FROM cm JOIN v$iters p ON p.dim = cm.j GROUP BY cm.i),
sc AS MATERIALIZED (
  SELECT (SELECT SUM(v$iters.v * cv.u) FROM v$iters JOIN cv USING (dim)) AS num,
         (SELECT SUM(v * v) FROM v$iters) * (SELECT SUM(c) FROM cm WHERE i = j) AS den)
SELECT v$iters.dim AS dim, CAST(v$iters.v AS BIGINT) AS v_fp6,
       CAST(CASE WHEN (SELECT den FROM sc) = 0 THEN 0
            ELSE (SELECT num FROM sc) * 1000 // (SELECT den FROM sc) END AS BIGINT)
         AS ev_permille
FROM v$iters ORDER BY dim"""
    else
      s"""$header,
dotp AS MATERIALIZED (
  SELECT q.vec_id, SUM(CAST(q.qv AS HUGEINT) * v$iters.v) AS dp
  FROM q JOIN v$iters ON v$iters.dim = q.dim GROUP BY q.vec_id),
kk AS MATERIALIZED (
  SELECT SUM(CAST(tri.si AS HUGEINT) * v$iters.v) AS k,
         MAX(tri.n) AS n
  FROM tri JOIN v$iters ON v$iters.dim = tri.i WHERE tri.i = tri.j),
mt AS MATERIALIZED (
  SELECT CASE WHEN k < 0 THEN -((-k) // n) ELSE k // n END AS m FROM kk)
SELECT vec_id, CAST(dp - (SELECT m FROM mt) AS BIGINT) AS pc1
FROM dotp ORDER BY vec_id"""
  }
}
