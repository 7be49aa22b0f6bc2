package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator library — the reference's capability surface
  * (SURVEY.md §2) re-expressed as pure Column / DataFrame => DataFrame
  * functions over the public `org.apache.spark.sql` API. Everything here is
  * codegen-friendly builtins: Catalyst handles pushdown, pruning, broadcast
  * selection and partial aggregation; nothing collects to the driver.
  */
object Relational {

  /** E1 — `TRIM(UPPER(c))` normalization
    * (reference: dbt/models/staging/stg_weather.sql:8-9). */
  def normString(c: Column): Column = trim(upper(c))

  /** E2 — ILIKE-driven category collapse
    * (reference: dbt/models/staging/stg_weather.sql:11-16).
    * `rules` are (substring-lowercase, category) pairs tested in order;
    * fallthrough is `TRIM(c)` like the reference's ELSE branch. NULL input
    * propagates NULL through both `contains` and `trim`.
    */
  def categorize(c: Column, rules: Seq[(String, String)]): Column =
    rules.foldRight(trim(c)) { case ((needle, cat), acc) =>
      when(lower(c).contains(needle), lit(cat)).otherwise(acc)
    }

  /** E3 — gap-free integer banding CASE
    * (reference: dbt/models/staging/stg_weather.sql:27-33). Bands are
    * (loInclusive, hiInclusive, label); first match wins; `last` is the
    * ELSE label. Gap-free only for integral inputs — mirrors the
    * reference's INTEGER temperature contract.
    */
  def bands(c: Column, bs: Seq[(Int, Int, String)], last: String): Column =
    bs.foldRight(when(c.isNotNull, lit(last))) { case ((lo, hi, label), acc) =>
      when(c.between(lo, hi), lit(label)).otherwise(acc)
    }

  /** E7 — dbt_utils 1.3.1 `generate_surrogate_key` semantics
    * (reference: dbt/models/marts/dim_locations.sql:7): md5 of the
    * '-'-joined string casts with a fixed placeholder for NULLs.
    */
  val SurrogateNull = "_dbt_utils_surrogate_key_null_"
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast("string"), lit(SurrogateNull))): _*))

  /** Exact money arithmetic over double inputs: round to integer cents and
    * sum as BIGINT — order-independent (ints), so safe under any shuffle /
    * partial-aggregation schedule at any scale, and identical across
    * engines (vs. nondeterministic double summation).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** A3/T1 — duplicate-key detector: `GROUP BY keys HAVING count(*) > 1`
    * (dbt `unique` test shape, reference: dbt compiled tests). */
  def duplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** T3 — dbt `accepted_values` test as a left-anti join against the
    * accepted literal list (reference: dbt/models/marts/schema.yml:40-42).
    * NULLs are excluded to match SQL `NOT IN` semantics.
    */
  def acceptedValuesViolations(df: DataFrame, c: String, accepted: Seq[String]): DataFrame = {
    val acceptedDf = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(accepted.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType))))
    df.filter(col(c).isNotNull)
      .join(broadcast(acceptedDf), Seq(c), "left_anti")
  }

  /** §2.7 — top-k: Catalyst plans TakeOrderedAndProject (no full sort /
    * single-partition shuffle of the whole input). */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** §2.6 — latest row per key via row_number window; `order` must be a
    * total order (include a unique tiebreak) for deterministic output. */
  def latestPerKey(df: DataFrame, partitionCols: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** SALTED equi-join for skewed keys too large to broadcast: the big
    * side gets a deterministic salt derived from the whole row (identical
    * rows co-locate, distinct rows of a hot key spread over `buckets`
    * partitions), the small side is replicated once per bucket, and the
    * join runs on (key, salt). Turns one straggler partition into
    * `buckets` even ones at the cost of replicating the small side —
    * the standard remedy when AQE's skew splitting can't kick in (e.g.
    * the skew is in a shuffled hash join or the hot key exceeds a single
    * split's worth). INNER joins only.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 buckets: Int): DataFrame = {
    val bigS = big.withColumn("__salt",
      pmod(hash(big.columns.toIndexedSeq.map(col): _*), lit(buckets)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    bigS.join(smallS, keys :+ "__salt").drop("__salt")
  }

  /** AS-OF JOIN (backward): for every left row, attach the single right
    * row with the greatest `rightTs` ≤ `leftTs` within the same `key` —
    * the time-series point-in-time lookup Spark has no native operator
    * for.
    *
    * Implementation is the union + running-last_value technique: tag both
    * sides, union them, and carry the most recent right-side payload
    * forward with `last_value(ignoreNulls) OVER (PARTITION BY key ORDER BY
    * ts, side ROWS UNBOUNDED PRECEDING)`. ONE shuffle on the join key and
    * linear window work — never the per-row range scan or the
    * O(|L|·|R|) interval cross-product a naive theta-join would plan,
    * so it scales like an ordinary equi-join shuffle at 100 TB.
    *
    * Right rows sort BEFORE left rows at equal timestamps (side 0 < 1), so
    * a right row exactly at `leftTs` is visible — the usual `<=`
    * convention. If several right rows share (key, rightTs), the last one
    * in `rightCols` order wins; pre-deduplicate the right side (e.g. via
    * `latestPerKey`) when that tie must be deterministic.
    *
    * Output: left columns + the requested `rightCols` (null when no right
    * row precedes the left row).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               rightCols: Seq[String]): DataFrame = {
    val leftTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightCols.map(col): _*).schema.fields)))
    val rightTagged = right
      .select((Seq(col(key), col(rightTs).as("__ts")) :+
        struct(rightCols.map(col): _*).as("__payload")): _*)
      .withColumn("__side", lit(0))
    // align schemas: right side carries nulls for the left columns
    val leftOnly = left.columns.filterNot(_ == key)
    val rightAligned = leftOnly.foldLeft(rightTagged) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unioned = leftTagged.unionByName(rightAligned.select(leftTagged.columns.toIndexedSeq.map(col): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val payload = rightCols.map(c => col("__asof").getField(c).as(c))
    carried.select(left.columns.toIndexedSeq.map(col) ++ payload: _*)
  }

  /** Gap-based SESSIONIZATION (batch): assign every event to a session
    * that closes after `gap` time units of inactivity — the activity-
    * stream segmentation every behavioral / training-telemetry pipeline
    * runs (the batch twin of `EventStream.sessionize`). One window over
    * (key, ts): an event opens a new session when it is its key's first
    * or follows its predecessor by more than `gap`; the running sum of
    * those flags numbers sessions 0,1,2,… per key. ONE shuffle (the
    * window partitioning), no self-join, no iteration — at 100 TB this
    * is a single exchange on the session key. Session numbering is
    * deterministic for any `tieBreak` making (ts, tieBreak) a total
    * order per key; equal-ts events always share a session either way
    * (their gap is 0).
    * Returns the input plus `session_idx` (0-based per key).
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gap: Long, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), tieBreak)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    events.withColumn("session_idx",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
  }

  /** RFM SEGMENTATION (recency / frequency / monetary quintiles — the
    * classic direct-marketing user segmentation, Hughes 1994): each user
    * scores 1–5 on each axis by exact population quintile — quint =
    * ⌊(rank−1)·5 / n⌋ + 1 with rank the EXACT global rank by
    * (metric ASC, user ASC), so later last-activity, higher event count
    * and higher spend all score higher — and rfm_code packs them as
    * r·100 + f·10 + m. Monetary sums exact integer cents ([[cents]]);
    * everything else is counts/timestamps — integer end to end.
    *
    * Scale shape: one user-keyed map-side-combining aggregate off the
    * event scan, then THREE exact global ranks of the users-sized table
    * via [[graft.dedup.Dedup.globalRankByKey]] (range exchange +
    * per-partition row_number + width-bounded offsets — never a
    * single-partition window over users), a broadcast 1-row total, and
    * two user-keyed joins to zip the axes. */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val u = graft.Caches.track(events.groupBy(col(userCol).as("u"))
      .agg(max(col(tsCol)).as("rec"), count(lit(1)).as("freq"),
        sum(cents(col(valueCol))).as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val total = u.agg(count(lit(1)).as("nu"))
    def quint(metric: String, out: String): DataFrame =
      graft.dedup.Dedup.globalRankByKey(
          u.select(col("u").as("id"), col(metric).as("k")))
        .crossJoin(broadcast(total))
        .select(col("id").as("u"),
          (expr("((r - 1) * 5) div nu") + 1).cast("int").as(out))
    quint("rec", "r_quint")
      .join(quint("freq", "f_quint"), Seq("u"))
      .join(quint("mon", "m_quint"), Seq("u"))
      .select(col("u"), col("r_quint"), col("f_quint"), col("m_quint"),
        (col("r_quint") * 100 + col("f_quint") * 10 + col("m_quint"))
          .as("rfm_code"))
  }

  /** 2-D PARETO FRONT (skyline): rows not dominated in the (x, y) plane
    * — d dominates p iff x_d ≥ x_p ∧ y_d ≥ y_p with one strict — the
    * multi-objective selection primitive (e.g. the quality-vs-length
    * frontier of a corpus: for every length, the best-quality document
    * you cannot improve on in both axes at once; Börzsönyi et al.,
    * ICDE 2001 "The Skyline Operator", public method).
    *
    * Algorithm (the sorted-scan skyline, made distributed): collapse to
    * one (x, ymax) row per distinct x — within an x-group everything
    * below ymax is dominated, ymax TIES all survive; a group then
    * survives iff its ymax strictly exceeds every ymax at larger x.
    * That strict prefix max over x-descending order is computed WITHOUT
    * a single-partition window: range-repartition the group table by x
    * DESC, per-partition running max, plus per-partition maxima combined
    * by a WIDTH-row window (bounded by the shuffle width, never data)
    * and broadcast back — the globalRankByKey offset pattern with max
    * in place of sum. Surviving (x, ymax) pairs semi-join the input
    * back on equality. Exact for any boundary placement (range
    * partitions are order-disjoint); all comparisons integer. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val g = df.groupBy(col(xCol).as("__sk_x")).agg(max(col(yCol)).as("__sk_ymax"))
    // materialized for the same reason as globalRankByKey's parted: the
    // nondeterministic pid column is consumed by the local window AND
    // the broadcast per-partition-maxima table — two instantiations of
    // the range exchange under a cold-plan race would sample different
    // boundaries and the prefix-max offsets would not match the local
    // windows' partitioning
    val parted = graft.Caches.materialize(g.repartitionByRange(
        graft.Par.widthFor(g), col("__sk_x").desc)
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("__sk_x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parted.withColumn("lmax", max(col("__sk_ymax")).over(wLocal))
    val wPrev = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = parted.groupBy(col("pid")).agg(max(col("__sk_ymax")).as("pm"))
      .withColumn("pmax", max(col("pm")).over(wPrev))
      .select(col("pid"), col("pmax"))
    val front = local.join(broadcast(prev), Seq("pid"))
      // greatest() skips NULLs; both NULL (the very first group) → no
      // larger-x group exists → keep unconditionally via the sentinel
      .filter(col("__sk_ymax") > coalesce(greatest(col("lmax"), col("pmax")),
        lit(Long.MinValue)))
      .select(col("__sk_x"), col("__sk_ymax"))
    df.join(front,
      col(xCol) === col("__sk_x") && col(yCol) === col("__sk_ymax"),
      "left_semi")
  }

  /** Ordered CONVERSION FUNNEL over an event stream — the product-
    * analytics primitive (view → click → purchase): a user reaches step
    * i+1 with the EARLIEST step-i+1 event strictly after their step-i
    * time and within `stepWindow` of it. Returns one summary row per
    * step: (step 1-based, event_type, n_users reaching it, total
    * latency-from-step-1 µs summed over those users — integer-exact, so
    * the mean is derivable without float aggregation order effects).
    *
    * Scale shape: pass i is ONE filter of the event table on its step
    * type, one equi-join against the (user, t1, ti)-row state of pass
    * i−1 on the user key, and one map-side-combining min aggregate —
    * every exchange is on the SAME user key, so the per-pass shuffles
    * of the (users-sized) state reuse one partitioning, and the event
    * table is filtered to one type before it ever moves. Steps are a
    * small constant; per-step summaries are 1-row aggregates unioned
    * (model-sized). The earliest-qualifying-event rule makes the result
    * a deterministic function of the set, independent of any order. */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  stepWindow: Long): DataFrame = {
    require(steps.size >= 2 && steps.size <= 8,
      s"steps=${steps.size} out of range 2..8")
    require(stepWindow > 0, s"stepWindow=$stepWindow must be > 0")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var state = graft.Caches.track(
      events.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol).as("u")).agg(min(col(tsCol)).as("t"))
        .select(col("u"), col("t").as("t1"), col("t"))
        .persist(lvl))
    val summaries = scala.collection.mutable.ArrayBuffer(
      state.agg(count(lit(1)).as("n_users"), lit(0L).as("sum_latency_us"))
        .select(lit(1).as("step"), lit(steps.head).as("event_type"),
          col("n_users"), col("sum_latency_us")))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      val nxt = events.filter(col(typeCol) === st)
        .select(col(userCol).as("u"), col(tsCol).as("ts2"))
        .join(state, Seq("u"))
        .filter(col("ts2") > col("t") && col("ts2") <= col("t") + stepWindow)
        .groupBy(col("u")).agg(min(col("t1")).as("t1"), min(col("ts2")).as("t"))
        .select(col("u"), col("t1"), col("t"))
      state = graft.Caches.track(nxt.persist(lvl))
      summaries += state
        .agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("t") - col("t1")), lit(0L)).as("sum_latency_us"))
        .select(lit(i + 1).as("step"), lit(st).as("event_type"),
          col("n_users"), col("sum_latency_us"))
    }
    summaries.reduce(_ unionAll _)
  }

  /** COHORT RETENTION matrix — the activation/retention readout: users
    * are cohorted by the (epoch-)week of their FIRST event of any type,
    * and each (cohort_week, week_offset) cell counts the cohort's users
    * active in that later week. Weeks are integer µs-since-epoch div
    * 7·86400·10⁶ — pure integer division, no calendar/timezone
    * semantics to diverge across engines.
    *
    * Scale shape: one user-keyed min aggregate (the cohort table), one
    * distinct over (user, week) — both map-side combining on the event
    * scan — then a user-keyed equi-join and a (cohort, offset)-keyed
    * count. The matrix is #weeks² rows; everything upstream is user- or
    * event-sized with partition reuse on the user key. */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val wkUs = 7L * 86400L * 1000000L
    // `div`, not `/`: BIGINT `/` is DOUBLE division (exactness past 2^53
    // is the pageRankInt lesson); µs are non-negative so div == floor
    val wk = expr(s"us div ${wkUs}L")
    val e = events.select(col(userCol).as("u"), col(tsCol).as("us"))
    val cohort = e.groupBy(col("u")).agg(min(col("us")).as("us"))
      .select(col("u"), wk.as("cohort_week"))
    val active = e.select(col("u"), wk.as("week")).distinct()
    cohort.join(active, Seq("u"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** EXACT PER-GROUP LOWER MEDIAN at corpus scale: median = the
    * element at per-group rank (cnt+1) div 2 under (value, id) order.
    * The naive shape — row_number PARTITION BY group — puts an entire
    * group (corpus/|groups| rows) in one task when groups are few; this
    * one computes a single GLOBAL rank by the composite (group, value,
    * id) key through [[graft.dedup.Dedup.globalRankByKey]] (range
    * exchange — no hot key, groups span partitions freely) and recovers
    * each group's LOCAL rank as r − min(r over the group) + 1 with a
    * broadcast #groups-row stats table. One range exchange + one
    * map-side group aggregate total; integer-exact, deterministic
    * ties. The ranked frame feeds BOTH the stats aggregate and the
    * join probe, so it is materialized once (Caches.materialize) —
    * unpersisted it would pay the range exchange + rank twice. */
  def groupedLowerMedian(df: DataFrame, idCol: String, groupCol: String,
                         valCol: String): DataFrame = {
    val ranked = graft.Caches.materialize(
      graft.dedup.Dedup.globalRankByKey(
        df.select(col(idCol).as("id"),
          struct(col(groupCol).as("g"), col(valCol).as("v")).as("k")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val parts = ranked.select(col("k.g").as("g"), col("k.v").as("v"), col("r"))
    val stats = parts.groupBy(col("g"))
      .agg(min(col("r")).as("r0"), count(lit(1)).as("n_rows"))
    parts.join(broadcast(stats), Seq("g"))
      .filter(col("r") - col("r0") + 1 === expr("(n_rows + 1) div 2"))
      .select(col("g").as(groupCol), col("n_rows"), col("v").as("median"))
  }

  /** EVENT-TYPE TRANSITION MATRIX (first-order Markov chain over the
    * event stream) — the sequence-analytics readout behind "what do
    * users do next": per user, events ordered by (ts, tieBreak) yield
    * consecutive (from_type → to_type) pairs; the matrix reports each
    * transition's count and its out-share of the from-state in exact
    * integer permille (the empirical transition probability).
    *
    * Scale shape: ONE user-keyed window exchange (per-user sequencing —
    * the partition is a user's own events, the same bound every
    * sequence-analytics operator carries: sessionize, funnel), then one
    * map-side-combining aggregate straight down to the |types|²-sized
    * matrix. The per-state out-totals derive from the matrix itself
    * (model-sized) and broadcast back — the corpus is scanned once and
    * shuffled once. Integer-exact end to end. */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), tieBreak)
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val outTot = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("n_out"))
    pairs.join(broadcast(outTot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000 * n) div n_out").as("permille"))
  }

  /** LAST-TOUCH ATTRIBUTION — the marketing-analytics primitive: every
    * conversion event (`convType`) is credited to the user's LATEST
    * preceding non-conversion event type ("touch"), or to `'direct'`
    * when the conversion has no preceding touch; the report aggregates
    * conversions and exact integer revenue cents per touch type with
    * each type's share of conversions in permille.
    *
    * Scale shape: one user-keyed window exchange carries the running
    * last-touch state (last(_, ignoreNulls) over the per-user order —
    * Spark evaluates the running frame incrementally, never
    * re-scanning the preceding rows per row), then one map-side-
    * combining aggregate down to the |types|-sized report plus a
    * broadcast 1-row total for the shares. Deterministic under the
    * total (ts, tieBreak) order; money in [[cents]]. */
  def lastTouchAttribution(events: DataFrame, userCol: String,
                           tsCol: String, typeCol: String,
                           valueCol: String, convType: String,
                           tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), tieBreak)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events.withColumn("__touch",
      last(when(col(typeCol) =!= convType, col(typeCol)),
        ignoreNulls = true).over(w))
    val rep = touched.filter(col(typeCol) === convType)
      .groupBy(coalesce(col("__touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(cents(col(valueCol))).as("revenue_cents"))
    val tot = rep.agg(sum(col("n_conversions")).as("nt"))
    rep.crossJoin(broadcast(tot))
      .select(col("touch_type"), col("n_conversions"), col("revenue_cents"),
        expr("(1000 * n_conversions) div nt").as("share_permille"))
  }

  /** SCD-type-1 UPSERT (MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
    * INSERT): apply a batch of updates onto a base snapshot, updates
    * winning on key collision. The update batch is first collapsed to
    * one row per key by `order` (so a batch carrying several versions of
    * a key applies its latest), then the surviving base rows are found
    * with a LEFT ANTI join. Two key-partitioned exchanges at most — the
    * dedup window and the anti join share the key, so at scale they
    * coalesce onto one partitioning, and when the update batch is small
    * (the usual incremental-load case) AQE broadcasts the anti side and
    * the base never shuffles at all. Schemas must match by name.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
             order: Seq[Column]): DataFrame = {
    val latestUpdates = latestPerKey(updates, keys, order)
    base.join(latestUpdates, keys, "left_anti")
      .unionByName(latestUpdates)
  }

  /** SCD-type-2 HISTORIZATION: turn a change log into validity intervals —
    * each row becomes valid from its own timestamp until the key's next
    * change (`valid_to` NULL ⇒ still current). One key-partitioned window
    * (lead), no self-join; the standard dimension-history builder.
    * `tieBreak` must make (tsCol, tieBreak) a total order per key.
    */
  def historize(df: DataFrame, keys: Seq[String], tsCol: String,
                tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol), tieBreak)
    df.withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Hourly RESAMPLE + FORWARD-FILL: aggregate a (key, µs-timestamp,
    * measure) stream to per-hour totals, densify each key onto its full
    * hourly calendar spine, and carry the last observed total across
    * empty hours (`v_ffill`; leading empty hours stay NULL). The gap-
    * filling shape every time-series feature pipeline needs. Scale: the
    * spine explode is O(key's hour span) rows per key — bounded by the
    * retention window, not the event volume — and the aggregate, spine
    * join, and fill window all partition on the key, so AQE coalesces
    * them onto one exchange.
    * Output: (key, h, n, v, v_ffill); h = hours since epoch, v = exact
    * integer hour total (`measureCents` must be integer-typed).
    */
  def resampleHourlyFfill(df: DataFrame, keyCol: String, usCol: String,
                          measureCents: Column): DataFrame = {
    val e = df.select(col(keyCol), expr(s"$usCol div 3600000000").as("h"),
      measureCents.as("cents"))
    val hv = e.groupBy(col(keyCol), col("h"))
      .agg(sum(col("cents")).as("v"), count(lit(1)).as("n"))
    // span re-aggregates the (tiny) hourly table, not the raw events —
    // one pass over the input, and the rollup rides the exchange hv
    // already paid.
    val span = hv.groupBy(col(keyCol)).agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = span.select(col(keyCol), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hv, Seq(keyCol, "h"), "left")
      .select(col(keyCol), col("h"), coalesce(col("n"), lit(0L)).as("n"), col("v"))
      .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(w))
  }
}
