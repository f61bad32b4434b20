package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd+ args: run only these queries (builder-side targeted
    // iteration; the driver always calls with exactly two args)
    val subset = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.local(cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => subset(n) }
    // A crashed query must NOT silently vanish from the round record
    // (r6: 10 queries lost their correctness rows invisibly — VERDICT r6
    // item 2). On failure we still write a one-row parquet whose single
    // `__error` column carries the message: the driver's DuckDB compare
    // then records a loud schema/hash FAIL row instead of nothing. The
    // failures are also echoed to stdout and collected in _errors.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Plan-shape certification (VERDICT r9 item 6): a QueryExecutionListener
    // walks EVERY execution (final writes AND intermediate jobs the
    // operators trigger) through AQE/query stages/cached plans
    // (tools/PlanWalk) and attributes unpartitioned-window / cartesian
    // counts to the running query → _plan_guards.json beside the
    // correctness parquet, so each round's artifact also certifies plan
    // shape. Listener callbacks are async — a short drain-sleep after
    // each query bounds misattribution (the WindowSweepSpec pattern);
    // totals are exact either way.
    val guards = scala.collection.mutable.LinkedHashMap[String, Array[Long]]()
    @volatile var currentQuery = ""
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val name = currentQuery
          if (name.nonEmpty) {
            val uw = graft.tools.PlanWalk.unpartitionedWindows(qe.executedPlan).size
            val cj = graft.tools.PlanWalk.cartesians(qe.executedPlan).size
            guards.synchronized {
              val arr = guards.getOrElseUpdate(name, Array(0L, 0L, 0L))
              arr(0) += 1; arr(1) += uw; arr(2) += cj
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    selected.foreach { case (name, fn) =>
      // operators persist internal subtrees (shingle postings, edge sets,
      // quantized vectors) and hand back lazy DFs, so a 180-query session
      // otherwise accumulates cache entries until LRU churn (ADVICE r7) —
      // each query's caches die with the query here
      spark.catalog.clearCache()
      currentQuery = name
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.linesIterator.next().take(300)
        println(s"[verify] QUERY FAILED: $name: ${errors(name)}")
        try {
          import spark.implicits._
          Seq(errors(name)).toDF("__error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      Thread.sleep(60) // drain async listener callbacks for this query
    }
    currentQuery = ""
    Thread.sleep(200)
    guards.synchronized {
      Files.writeString(Paths.get(s"$outDir/_plan_guards.json"),
        guards.map { case (k, a) =>
          s""""$k": {"executions": ${a(0)}, "unpartitioned_windows": ${a(1)}, "cartesians": ${a(2)}}"""
        }.mkString("{", ",", "}"))
    }
    if (errors.nonEmpty) {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      Files.writeString(Paths.get(s"$outDir/_errors.json"),
        errors.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
          .mkString("{", ",", "}"))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** SparkEntry.oracleSql as a JSON object. Escapes backslash, quote, and
    * ALL control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
