package graftbench

import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced loop. Per-call figures are medians over
  * the op's calls; `core_util` is a ratio of sums. An op the workload does
  * not run reports 0 throughout. */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** max ÷ median task time in the stage with the longest span. */
  private def skew(tasks: Seq[JobTracer#Task]): Double = {
    if (tasks.isEmpty) return 0.0
    val longest = tasks.groupBy(_.stage).values
      .maxBy(ts => ts.map(_.finishMs).max - ts.map(_.launchMs).min)
    val d = longest.map(t => (t.finishMs - t.launchMs).toDouble)
    val m = median(d)
    if (m <= 0) 1.0 else d.max / m
  }

  def metrics(loop: Main.Loop, tracer: JobTracer, spans: Spans, cores: Int,
      readMs: Seq[Double]): Seq[(String, Double, String)] = {
    val perOp = Main.LayerOps.flatMap { op =>
      val calls = loop.calls.filter(_.op == op)
      val jobs = calls.map(c => tracer.jobs(c.group))
      val tasks = calls.map(c => tracer.tasks(c.group))
      val wallMs = calls.map(c => c.callMs + c.resultMs)
      val driverMs = calls.zip(jobs).map { case (c, js) =>
        val end = c.startMs + c.callMs + c.resultMs
        val s = Span(0, c.seq, op, 0, c.startMs, end)
        spans.selfMs(s, js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      }
      val runMs = tasks.map(_.map(_.runMs).sum.toDouble).sum
      val util = if (wallMs.sum > 0) runMs / (wallMs.sum * cores) else 0.0
      Seq(
        (s"ops.$op.call_s", median(calls.map(_.callMs)) / 1e3, "s"),
        (s"ops.$op.result_s", median(calls.map(_.resultMs)) / 1e3, "s"),
        (s"ops.$op.driver_s", median(driverMs) / 1e3, "s"),
        (s"ops.$op.jobs", median(jobs.map(_.size.toDouble)), "count"),
        (s"ops.$op.tasks", median(tasks.map(_.size.toDouble)), "count"),
        (s"ops.$op.shuffle_bytes", median(tasks.map(_.map(_.shuffleBytes).sum.toDouble)), "bytes"),
        (s"ops.$op.spill_bytes", median(tasks.map(_.map(_.spillBytes).sum.toDouble)), "bytes"),
        (s"ops.$op.core_util", util, "ratio"),
        (s"ops.$op.task_skew", median(tasks.map(skew)), "ratio"))
    }
    val derives = loop.derives
    perOp ++ Seq(
      ("sources.read_s", median(readMs) / 1e3, "s"),
      ("queries.derive_s", median(derives.map(d => d.endMs - d.startMs)) / 1e3, "s"),
      ("queries.shuffle_bytes",
        median(derives.map(d => tracer.tasks(d.group).map(_.shuffleBytes).sum.toDouble)), "bytes"))
  }

  /** `spans.jsonl` (set-up, rounds' derivations, calls with their call /
    * result phases and the Spark jobs each caused) and `layers.json`. */
  def write(out: String, spans: Spans, loop: Main.Loop, tracer: JobTracer,
      metrics: Seq[(String, Double, String)], props: Seq[(String, Any)]): Unit = {
    loop.derives.foreach { d =>
      val id = spans.add(0, "queries.derive", 0, d.startMs, d.endMs)
      tracer.jobs(d.group).foreach(j => spans.add(0, s"spark.job.${j.id}", id, j.startMs, j.endMs))
    }
    loop.calls.foreach { c =>
      val end = c.startMs + c.callMs + c.resultMs
      val id = spans.add(c.seq, s"ops.${c.op}", 0, c.startMs, end)
      spans.add(c.seq, s"ops.${c.op}.call", id, c.startMs, c.startMs + c.callMs)
      spans.add(c.seq, s"ops.${c.op}.result", id, c.startMs + c.callMs, end)
      tracer.jobs(c.group).foreach(j => spans.add(c.seq, s"spark.job.${j.id}", id, j.startMs, j.endMs))
    }
    val lines = spans.all.map(s =>
      s"""{"id":${s.id},"call":${s.callId},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    Files.write(Paths.get(out, "spans.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val body = Json.metrics(metrics) + ",\"inputs\":{" +
      props.map { case (k, v) => s"${Json.str(k)}:${Json.str(v.toString)}" }.mkString(",") + "}"
    Files.write(Paths.get(out, "layers.json"), s"{$body}\n".getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def metrics(ms: Seq[(String, Double, String)]): String =
    "\"metrics\":{" + ms.map { case (n, v, u) =>
      s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString(",") + "}"

  def result(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,${metrics(ms)}}"""
}
