package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Size gate of a driver-local tier. */
object Gate {

  /** `df`'s rows when Σ size(row) ≤ cap, else None: one probe job, then —
    * only within the cap — one collect. Both run over the same RDD, so the
    * shuffles upstream of `df` materialize once and the collect re-reads
    * their output. Over the cap nothing reaches the driver but the sum,
    * and each probe task stops reading once its own partition is over the
    * cap; the caller's distributed tier then evaluates `df` again, so an
    * over-cap call pays one extra pass over `df` (a partial one when
    * partitions exceed the cap). */
  def collectWithin(df: DataFrame, cap: Long)(size: Row => Long): Option[Array[Row]] = {
    val rdd = df.rdd
    val total = rdd.mapPartitions { it =>
      var s = 0L
      while (s <= cap && it.hasNext) s += size(it.next())
      Iterator.single(s)
    }.fold(0L)(_ + _)
    if (total > cap) None else Some(rdd.collect())
  }
}
