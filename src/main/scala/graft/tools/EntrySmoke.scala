package graft.tools

/** Local smoke for the driver's t1 gate: SparkEntry.entry must return >0 rows. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local("8", "WARN")
    val df = graft.SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println(s"[entry-smoke] rows=${df.count()}")
    spark.stop()
  }
}
