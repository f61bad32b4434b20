package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side: one workload, one seed, one closed loop.
  *
  * Set-up (repeated, the median reported), a warm-up round with the
  * checks' reference outputs computed alongside, then the measured loop:
  * a single caller thread runs rounds of operator calls; each call starts
  * when the previous one has returned AND its output has been digested.
  * A call's latency is the public call (call phase) plus the digest
  * (result phase). With `--trace 1` every other round of the loop is
  * traced: a listener attributes every Spark job to its call through a
  * per-call job group, and spans are written out at the end. The last
  * stdout line is the result object.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, cores: Int)

  final case class Call(seq: Long, round: Int, op: String, key: String, rows: Long,
      startMs: Double, callMs: Double, resultMs: Double, digests: Seq[Digest],
      schemas: Seq[StructType], error: Option[String]) {
    def latencyS: Double = (callMs + resultMs) / 1e3
    def group: String = s"call-$seq"
  }
  final case class Derive(round: Int, startMs: Double, endMs: Double) {
    def group: String = s"derive-$round"
  }
  final case class Loop(calls: Seq[Call], derives: Seq[Derive]) {
    def rounds: Seq[Int] = calls.map(_.round).distinct.sorted
    def timedS: Double = calls.map(_.latencyS).sum + derives.map(d => d.endMs - d.startMs).sum / 1e3
    /** Timed seconds of each round: its derivation and its calls. */
    def roundS: Seq[Double] = rounds.map { r =>
      calls.filter(_.round == r).map(_.latencyS).sum +
        derives.filter(_.round == r).map(d => d.endMs - d.startMs).sum / 1e3
    }
    /** The rounds `p` selects. */
    def only(p: Int => Boolean): Loop =
      Loop(calls.filter(c => p(c.round)), derives.filter(d => p(d.round)))
  }

  /** Set-ups per run, the median reported: the first is cold (JVM class
    * loading), so the median is the mean of the two middle warm ones. */
  val SetupReps = 4

  /** Untimed rounds before the measured loop. The checks' reference
    * outputs run alongside them; the JVM keeps speeding up for several
    * rounds (its JIT compilers stay busy for about six), and two rounds
    * cover the steepest part of that within the run budget. */
  val WarmupRounds = 2

  /** The measured loop runs at least this many rounds. */
  val MinRounds = 3

  /** Rounds of a traced run's loop: half untraced, half traced. */
  val TracedRounds = 4

  /** Calls are numbered across loops; a call's spans share its number. */
  private var lastSeq = 0L

  val LayerOps: Seq[String] = GraphOps.ops ++ PipelineText.ops

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    // the session flags of graft.Bench, plus local scratch/warehouse dirs
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop what an operator call left cached (its internal persists), but
    * keep the pinned inputs: every call starts from the same state. */
  private def sweep(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Full rounds until `seconds` have passed and at least `minRounds`
    * rounds ran. With a tracer, the odd rounds are traced: the listener is
    * registered for them only, and each call runs under its own job group. */
  def runLoop(spark: SparkSession, wl: Workload, dataDir: String, seconds: Int,
      minRounds: Int, inputs: Set[Int], spans: Spans, tracer: Option[JobTracer]): Loop = {
    val sc = spark.sparkContext
    val calls = mutable.ArrayBuffer[Call]()
    val derives = mutable.ArrayBuffer[Derive]()
    val t0 = System.nanoTime()
    var round = 0
    // rounds are never cut short, so every op appears equally often
    while (round < minRounds || System.nanoTime() - t0 < seconds * 1000000000L) {
      val traced = tracer.isDefined && round % 2 == 1
      if (traced) sc.addSparkListener(tracer.get)
      if (traced) sc.setJobGroup(s"derive-$round", "queries.derive")
      val d0 = spans.nowMs
      val derived = wl.derive(spark, dataDir)
      val d1 = spans.nowMs
      if (traced) sc.clearJobGroup()
      if (derived) derives += Derive(round, d0, d1)
      val keep = persistentIds(spark)
      wl.round(round).foreach { step =>
        lastSeq += 1
        val seq = lastSeq
        if (traced) sc.setJobGroup(s"call-$seq", step.op)
        val c0 = spans.nowMs
        var c1 = c0
        var schemas = Seq.empty[StructType]
        val outcome: Either[String, Seq[Digest]] =
          try {
            val frames: Seq[DataFrame] = step.call()
            c1 = spans.nowMs
            schemas = frames.map(_.schema)
            Right(frames.map(Digest.of))
          } catch { case NonFatal(e) => c1 = spans.nowMs; Left(e.toString) }
        val c2 = spans.nowMs
        if (traced) sc.clearJobGroup()
        calls += Call(seq, round, step.op, step.key, step.rows, c0, c1 - c0,
          c2 - c1, outcome.getOrElse(Nil), schemas, outcome.left.toOption)
        sweep(spark, keep)
      }
      sweep(spark, inputs)
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(tracer.get)
      }
      // reclaim the round's broadcast/shuffle handles outside the timed
      // calls, rather than in a GC pause inside a later call
      System.gc()
      round += 1
    }
    Loop(calls.toSeq, derives.toSeq)
  }

  /** `WarmupRounds` rounds of every operator (the cold JIT and codegen
    * work), untimed. Each (op, key) check starts on a pool as soon
    * as that op's first warm-up call has returned (its output schemas type
    * the reference), so the checks overlap the warm-up instead of adding
    * to the run. Nothing is unpersisted until every check has finished: a
    * check may be reading it. Returns the checks, the self-test and each
    * warm-up round's seconds. */
  def warmUp(spark: SparkSession, wl: Workload, dataDir: String)
      : (Map[(String, String), KeyCheck], Option[String], Seq[Double]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(LayerOps.size + 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def guarded[T](what: String)(body: => T)(onError: String => T): T =
      try body catch { case NonFatal(e) => onError(s"$what: $e") }
    try {
      val selfTest = Future(guarded("self-test")(wl.selfTest(spark))(Some(_)))
      val pending = mutable.LinkedHashMap[(String, String), Future[KeyCheck]]()
      val roundS = (0 until WarmupRounds).map { r =>
        val r0 = System.nanoTime()
        wl.derive(spark, dataDir)
        wl.round(r).foreach { step =>
          guarded(step.op) {
            val frames = step.call()
            frames.foreach(Digest.of)
            val schemas = frames.map(_.schema)
            pending.getOrElseUpdate((step.op, step.key), Future(
              guarded("check")(wl.check(spark, dataDir, step.op, step.key, schemas))(
                e => KeyCheck(Nil, Some(e)))))
            ()
          }(e => System.err.println(s"[perfbench] warm-up call failed: $e"))
        }
        (System.nanoTime() - r0) / 1e9
      }
      (pending.map { case (k, f) => k -> Await.result(f, Duration.Inf) }.toMap,
        Await.result(selfTest, Duration.Inf), roundS)
    } finally pool.shutdown()
  }

  /** Mean latency of the slowest quarter of the calls: (value, calls
    * averaged). */
  def tail(lat: Seq[Double]): (Double, Int) = {
    val k = math.max(1, (lat.size + 3) / 4)
    (lat.sorted.takeRight(k).sum / k, k)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val dataDir = s"${a.out}/data"
    val spans = new Spans
    var spark: SparkSession = null
    var wl: Workload = null
    val readMs = mutable.ArrayBuffer[Double]()

    // ---- set-up, SetupReps times (the median reported): session start,
    // input generation and read
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        // the stopped session's garbage is not the next set-up's work
        System.gc()
      }
      val t0 = spans.nowMs
      spark = session(a)
      wl = Workload(a.workload, a.seed)
      wl.generate(spark, dataDir)
      val r0 = spans.nowMs
      wl.read(spark, dataDir)
      val t1 = spans.nowMs
      val root = spans.add(0, s"setup.$rep", 0, t0, t1)
      spans.add(0, "sources.read", root, r0, t1)
      readMs += t1 - r0
      (t1 - t0) / 1e3
    }
    val setupTotalS = median(setupS)
    val inputs = persistentIds(spark)

    // ---- warm-up rounds, with the checks' reference outputs computed
    // concurrently (outside every timed interval and outside set-up)
    val w0 = spans.nowMs
    val (checks, selfTest, warmS) = warmUp(spark, wl, dataDir)
    sweep(spark, inputs)
    System.gc()
    val w1 = spans.nowMs
    spans.add(0, "warmup", 0, w0, w1)

    // ---- measured loop. Traced runs alternate untraced and traced rounds,
    // so both see a similar stage of the JVM's warming.
    val tracer = if (a.trace) Some(new JobTracer) else None
    val loop = runLoop(spark, wl, dataDir, a.seconds,
      if (a.trace) TracedRounds else MinRounds, inputs, spans, tracer)
    val plain = loop.only(r => tracer.isEmpty || r % 2 == 0)
    val traced = tracer.map(_ => loop.only(_ % 2 == 1))

    // ---- output checks: every measured call against its key's reference
    val all = loop.calls
    val failures = mutable.LinkedHashMap[String, String]()
    checks.foreach { case ((op, key), kc) => kc.failure.foreach(f => failures(s"$op/$key") = f) }
    def failed(c: Call): Boolean = c.error.isDefined || {
      val kc = checks.getOrElse((c.op, c.key), KeyCheck(Nil, Some("no check")))
      kc.failure.isDefined || c.digests.size != kc.reference.size ||
        !c.digests.zip(kc.reference).forall { case (x, y) => x.matches(y) }
    }
    all.filter(failed).foreach { c =>
      failures.getOrElseUpdate(s"${c.op}/${c.key}",
        c.error.getOrElse(s"digest ${c.digests.mkString(";")} != reference " +
          checks.get((c.op, c.key)).map(_.reference.mkString(";")).getOrElse("")))
    }
    selfTest.foreach(f => failures("self-test") = f)
    val nFailed = all.count(failed)

    // rows of one round per timed second of a typical round: each op's
    // median latency and the median derivation, so that one slow call (a GC
    // pause, a late JIT compile) does not move it
    def roundRowsPerS(l: Loop): Double = {
      val ok = l.calls.filterNot(failed)
      val byOp = ok.groupBy(_.op)
      val rows = byOp.values.map(_.head.rows).sum.toDouble
      val sec = byOp.values.map(cs => median(cs.map(_.latencyS))).sum +
        median(l.derives.map(d => d.endMs - d.startMs)) / 1e3
      if (sec > 0) rows / sec else 0.0
    }
    val lat = plain.calls.map(_.latencyS)
    val (tailS, tailK) = tail(lat)
    val props = wl.properties

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupTotalS, "s"),
        ("rows_per_s", roundRowsPerS(plain), "1/s"),
        ("call_p50_s", median(lat), "s"),
        ("call_tail_s", tailS, "s"))
      else Layers.metrics(traced.get, tracer.get, spans, a.cores, readMs.toSeq) :+
        (("trace.rows_per_s_ratio", roundRowsPerS(traced.get) / roundRowsPerS(plain), "ratio"))

    if (a.trace) Layers.write(a.out, spans, traced.get, tracer.get, metrics, props)

    failures.foreach { case (k, v) => System.err.println(s"[perfbench] FAILED $k: ${v.take(400)}") }
    println("[perfbench] per-op latency (s) " + plain.calls.groupBy(_.op).toSeq.sortBy(_._1)
      .map { case (op, cs) => s"$op=" + cs.map(c => f"${c.latencyS}%.2f").mkString("/") }.mkString(" "))
    println(f"[perfbench] phases warmup_and_checks_s=${(w1 - w0) / 1e3}%.1f " +
      "warmup_round_s=" + warmS.map(x => f"$x%.2f").mkString("/") + f" loop_s=${plain.timedS}%.1f " +
      "round_s=" + plain.roundS.map(x => f"$x%.2f").mkString("/"))
    println(s"[perfbench] inputs ${props.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(f"[perfbench] ${a.workload} seed=${a.seed} rounds=${plain.rounds.size} calls=${lat.size} " +
      f"setup_s=$setupTotalS%.3f s (median of $SetupReps set-ups ${setupS.map(x => f"$x%.2f").mkString("/")}) rows_per_s=${roundRowsPerS(plain)}%.1f 1/s " +
      f"call_p50_s=${median(lat)}%.4f s call_tail_s=$tailS%.4f s (mean of the slowest $tailK of ${lat.size} calls) " +
      f"failed_frac=${nFailed.toDouble / all.size}%.4f fraction ($nFailed/${all.size} calls)")
    val correct = nFailed == 0 && failures.isEmpty
    println(Json.result(correct, all.size, nFailed, metrics))
    spark.stop()
    sys.exit(0)
  }
}
