package graft.tools

import org.apache.spark.sql.functions._
import graft.Sessions

/** Synthetic ×N corpus generator for the scale-up study: replicates
  * `documents`/`embeddings` from a base SF dir with re-keyed ids while
  * PRESERVING duplicate/near-dup density instead of multiplying it —
  * the property that makes the scaling measurement honest. A plain
  * self-union would make every doc an exact duplicate of its N−1
  * replicas (an adversarial corpus where candidate pairs grow ~N² per
  * group); instead every replica k > 0 prefixes each TOKEN with a
  * replica salt, so all shingles differ across replicas, intra-replica
  * duplicate structure is identical, and total near-dup pairs scale
  * linearly with N — the natural model of "10× more crawl of the same
  * kind of web". Embeddings get a deterministic per-replica SIGNED
  * PERMUTATION of dimensions (an orthogonal transform — exact
  * intra-replica geometry, decorrelated cross-replica similarities) so
  * ANN/kNN neighborhood sizes stay ~constant per point as the store
  * grows.
  *
  * Usage: runMain graft.tools.ScaleGen <baseSfDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (base, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = Sessions.build(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val reps = spark.range(factor).toDF("k")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("k") * maxDoc).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              t => concat(lit("r"), col("k"), lit("x"), t)), " ")).as("text"),
        col("lang"), col("source"),
        length(when(col("k") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              t => concat(lit("r"), col("k"), lit("x"), t)), " ")))
          .cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // Replica k > 0 applies a SIGNED PERMUTATION of the dimensions
    // (an orthogonal transform): intra-replica geometry — norms, dot
    // products, neighborhoods, cluster structure — is preserved
    // EXACTLY, while cross-replica similarities decorrelate, so each
    // point's near-neighborhood stays ~constant size as the store
    // grows (the honest "10× more independent content" model). The
    // first version multiplied each component by a ±0.5% jitter
    // instead, which kept every replica at cosine ≈ 0.9999 to its
    // original — neighborhoods densified ×N and the fixed-`bits`
    // LSH-bucket joins (Σ|bucket|² scoring work) measured 21× at ×10,
    // an artifact of the generator, not the operator. Permutation
    // i → (i·(2k+1) + k) mod d is a bijection for any k when d is a
    // power of two (2k+1 odd ⇒ coprime); signs come from xxhash64.
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("k") * maxVec).as("vec_id"),
        when(col("k") === 0, col("embedding")).otherwise(
          transform(
            sequence(lit(0), size(col("embedding")) - 1),
            i => (element_at(col("embedding"),
              (pmod(i * (col("k") * 2 + 1) + col("k"),
                size(col("embedding"))) + 1).cast("int")) *
              when(pmod(xxhash64(col("k"), i), lit(2L)) === 0, 1f)
                .otherwise(-1f)).cast("float")))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // EVENTS (r13): replica k re-keys user_id and event_id; ts / type /
    // value / props are unchanged — the "×N users, same time window"
    // model. Per-user sequences are exact copies of a base user's, so
    // user-keyed operators (sessionize, funnel, retention, journeys,
    // transitions) scale by user count with per-user work constant, and
    // window-keyed aggregates see ×N density per window — the shape a
    // growing product actually produces. Hot keys replicate too; the
    // replicas' (user mod 16) salts land differently than the base's
    // (maxUser is not a multiple of 16), which is fine — the salted
    // operators' contract is salt-agnostic by construction.
    val ev = spark.read.parquet(s"$base/events.parquet")
    val maxUser = ev.agg(max(col("user_id"))).head.getLong(0) + 1
    val maxEvent = ev.agg(max(col("event_id"))).head.getLong(0) + 1
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("k") * maxEvent).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // ORDERS + CUSTOMER (r13): re-keyed ids, unchanged attributes —
    // enables scale studies of the order-keyed relational rows (salted
    // join, grouped median). ONE customer-key offset shared by both
    // tables (from the customer table — the superset: customers without
    // orders exist) keeps o_custkey → c_custkey referential integrity
    // inside every replica.
    val cust = spark.read.parquet(s"$base/customer.parquet")
    val custOff = cust.agg(max(col("c_custkey"))).head.getLong(0) + 1
    val ord = spark.read.parquet(s"$base/orders.parquet")
    val maxOrd = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1
    ord.crossJoin(reps)
      .select(
        (col("o_orderkey") + col("k") * maxOrd).as("o_orderkey"),
        (col("o_custkey") + col("k") * custOff).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    cust.crossJoin(reps)
      .select(
        (col("c_custkey") + col("k") * custOff).as("c_custkey") +:
          cust.columns.filter(_ != "c_custkey").map(col): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    println(s"[scalegen] wrote $out at x$factor: docs=" +
      spark.read.parquet(s"$out/documents.parquet").count() +
      " embeddings=" + spark.read.parquet(s"$out/embeddings.parquet").count() +
      " events=" + spark.read.parquet(s"$out/events.parquet").count() +
      " orders=" + spark.read.parquet(s"$out/orders.parquet").count())
    spark.stop()
  }
}
