package graft.core

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration of graft's mains, tools and specs,
  * so that what the specs plan is what the bench times. */
object GraftSession {

  /** A `local[cpus]` session logging at `logLevel`, with `cpus` shuffle
    * partitions, UTC session time, parquet nanosecond timestamps read as
    * longs and no UI.
    *
    * It also lets AQE re-size CACHED plan output
    * (`canChangeCachedPlanOutputPartitioning`, off by default only for
    * exchange-reuse compatibility). The iterative/persisting operators
    * keep loop state and internal tables cached; without this flag a
    * cached table is frozen at `spark.sql.shuffle.partitions` regardless
    * of size, so every round over a small cached state paid ~32 tasks of
    * pure scheduling dust, while at scale the same flag coalesces toward
    * the advisory partition size — adaptive in both regimes, nothing
    * tuned to local[32]. A/B at sf0.1 (identical binary):
    * q_wl_components 3.9→1.8 s, q_dup_spans_multi 7.6→3.9 s, q_rich_club
    * 2.5→1.9 s, 12-query cache-heavy subset 32.1→28.3 s. */
  def local(cpus: String, logLevel: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
