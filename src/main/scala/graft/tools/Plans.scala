package graft.tools

/** Dump formatted plans for selected queries (dev tool for plan review). */
object Plans {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg", "q_components")
    val spark = graft.core.GraftSession.local("8", "ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .explain("formatted")
    }
    spark.stop()
  }
}
