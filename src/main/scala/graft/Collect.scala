package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The one answer to "may this land on the driver?". Each driver-side
  * cutover (the dedup union-find, the tokenizer train loops, the
  * streaming near-dup admission) collects a model-sized table when it
  * fits and runs its distributed path unchanged when it does not. The
  * row bound is a fixed share of the driver JVM's heap divided by the
  * site's bytes per row, so a deployment sizes every cutover at once
  * through the driver's memory (CAPACITY.md). At a 2 GiB driver the
  * bounds are 2,097,152 edges, 1,048,576 words and 1,864,135 signatures.
  */
object Collect {

  /** A bounded collect may fill 1/16 of the driver heap. */
  private val HeapShare = 16L

  /** Driver bytes per row of each site: ~64 B of row overhead plus the
    * payload. A contracted signature-pair edge (two signature strings). */
  val EdgeBytes = 64L
  /** A (word, count) row of the distinct-word table. */
  val WordBytes = 128L
  /** An (id, simhash) row of a micro-batch or of the store window. */
  val SigBytes = 72L

  @volatile private var forced: Option[Long] = None

  /** The row bound for `bytesPerRow` under a driver heap of `heap` bytes. */
  def rowsFor(heap: Long, bytesPerRow: Long): Long = heap / HeapShare / bytesPerRow

  /** The row bound of a site storing `bytesPerRow` per row on this driver. */
  def maxRows(bytesPerRow: Long): Long =
    forced.getOrElse(rowsFor(Runtime.getRuntime.maxMemory, bytesPerRow))

  /** Runs `body` with every site's bound set to `rows` (0 forces every
    * distributed path), and restores the previous bound however `body`
    * ends. JVM-wide: it reaches the threads a stream runs its batches on. */
  private[graft] def withMaxRows[A](rows: Long)(body: => A): A = {
    val prev = forced
    forced = Some(rows)
    try body finally forced = prev
  }

  /** `df`'s rows when it has at most `maxRows` of them, from one
    * `head(maxRows + 1)` job; None when it has more or `maxRows` is not
    * positive. */
  def head(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (maxRows <= 0) None
    else {
      val lim = math.min(maxRows, Int.MaxValue - 2L).toInt
      val rows = df.head(lim + 1)
      if (rows.length > lim) None else Some(rows)
    }
}
