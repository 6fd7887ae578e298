package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The repository benchmark: one process, one `local[N]` session, one
  * workload. See `perfbench/METRICS.md` for the metrics and which layer
  * should move each one.
  *
  * usage: perfbench.Main --workload <transcripts|curation>
  *          --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a host-context JSON line, then, as the last line, the result:
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}`.
  */
object Main {

  /** End-to-end metrics, reported with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "round_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s")

  /** Per-layer metrics, reported with `--trace 1`: each round's Spark
    * jobs split into the driver (planning, commits, manifest and catalog
    * IO), the executors, shuffle and memory, and task scheduling. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver_s" -> "s", "exec_cpu_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "peak_exec_mem_mb" -> "MB", "task_skew" -> "ratio",
    "slot_util" -> "ratio", "jobs" -> "count", "stages" -> "count",
    "trace_overhead" -> "ratio")

  val SpanMetrics: Seq[String] = Seq(
    "wall_s", "driver_s", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
    "peak_exec_mem_mb", "task_skew", "slot_util")

  /** Rounds measured at least, whatever `--seconds` says. */
  val MinRounds = 2

  /** Input generations per run; set-up time takes their median. */
  val Setups = 3

  /** Run arguments; `cores`, `tiny` (test-sized inputs) and `plant`
    * (checks made to fail, see [[Check]]) are set by the tests only. */
  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      work: String = "",
      cores: Int = Host.nproc,
      tiny: Boolean = false,
      plant: Set[String] = Set.empty)

  def parse(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v))     => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v))  => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v))    => a.copy(trace = v == "1")
      case (a, Array("--work", v))     => a.copy(work = v)
      case (_, other) => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$cores]")
      // the engine's session knobs (graft.core.GraftSession), with
      // scratch kept inside the benchmark's work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.work)
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val r = run(spark, a, sessionS)
      println(r.context)
      println(r.result)
    } finally spark.stop()
  }

  final case class Result(context: String, result: String, ledger: Ledger, metrics: Map[String, Double])

  def run(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val w = Workload(a.workload, spark, a.seed, a.tiny)
    val sc = spark.sparkContext
    val rec = new SpanRecorder(sc, a.cores)
    val (calib1, calibN) = Host.calibrate(a.cores)
    val ledger = new Ledger(a.plant)
    def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9

    // ---- set-up: input generation several times (median), then the
    // warm-up rounds (class loading, JIT, codegen caches); the first one
    // also runs the expensive output checks. Set-up time counts the
    // warm-up rounds' engine calls, not their checks.
    val gens = (1 to Setups).map { i =>
      val t = System.nanoTime()
      w.generate(s"${a.work}/inputs-$i")
      val s = secondsSince(t)
      // only the last set-up's inputs are read later; deleting the others
      // now drops their dirty pages before the kernel writes them back
      // during the measured rounds
      if (i > 1) deleteTree(new File(s"${a.work}/inputs-${i - 1}"))
      s
    }
    val tw = System.nanoTime()
    val warm = (1 to w.warmups).map { i =>
      val timed = new Timed(rec)
      w.round(s"${a.work}/warmup-$i", full = i == 1, ledger, timed)
      deleteTree(new File(s"${a.work}/warmup-$i"))
      timed.spans.map(_.wallS).sum
    }
    val warmWallS = secondsSince(tw)
    ledger.add("setup_s", sessionS + Ledger.median(gens) + warm.sum)

    // ---- measured rounds; with tracing, rounds alternate untraced /
    // traced, so the listener's overhead is measured within the run
    val roundWall = mutable.Map[Boolean, mutable.ArrayBuffer[Double]]()
    val tracedRounds = mutable.ArrayBuffer[Seq[SpanRun]]()
    val start = System.nanoTime()
    var k = 0
    def needMore = secondsSince(start) < a.seconds || k < MinRounds ||
      (a.trace && tracedRounds.isEmpty)
    while (needMore) {
      k += 1
      val traced = a.trace && k % 2 == 0
      if (traced) sc.addSparkListener(rec)
      val timed = new Timed(rec)
      val failedBefore = ledger.failed
      w.round(s"${a.work}/round-$k", full = false, ledger, timed)
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(rec)
      }
      if (ledger.failed == failedBefore) {
        val wall = timed.spans.map(_.wallS).sum
        ledger.add("round_s", wall)
        ledger.add("cpu_s", timed.spans.map(_.cpuS).sum)
        ledger.add("jit_cpu_s", timed.spans.map(_.jitS).sum)
        roundWall.getOrElseUpdate(traced, mutable.ArrayBuffer()) += wall
        if (traced) tracedRounds += timed.spans.toSeq
      }
      deleteTree(new File(s"${a.work}/round-$k"))
    }
    val measuredS = secondsSince(start)

    val byRun = (if (a.trace) rec.stats() else Nil).map(s => s.span -> s).toMap
    val traces = tracedRounds.toSeq.map(_.map(byRun))
    val layer: Map[String, Double] =
      if (!a.trace || traces.isEmpty) Map.empty
      else {
        val perRound = traces.map(perLayer(_, a.cores))
        PerLayer.map(_._1).filter(_ != "trace_overhead")
          .map(m => m -> Ledger.median(perRound.map(_(m)))).toMap ++
          (for (t <- roundWall.get(true); u <- roundWall.get(false))
            yield "trace_overhead" -> Ledger.median(t) / Ledger.median(u))
      }
    val names = if (a.trace) PerLayer else EndToEnd
    val metrics = names.map { case (n, _) =>
      n -> (if (a.trace) layer.get(n) else ledger.median(n))
    }
    val correct = ledger.failed == 0 && metrics.forall(_._2.isDefined)

    val mapper = new ObjectMapper()
    val ctx = mapper.createObjectNode()
    ctx.put("workload", a.workload).put("seed", a.seed).put("trace", a.trace)
      .put("nproc", Host.nproc).put("local_n", a.cores)
      .put("calibration_ms", calib1).put("calibration_mt_ms", calibN)
      .put("session_s", sessionS).put("warmup_s", warm.sum)
      .put("warmup_with_checks_s", warmWallS)
      .put("rounds", k).put("measured_s", measuredS)
      .put("cores_used", ledger.samples.get("cpu_s").map(_.sum).getOrElse(0.0) /
        roundWall.values.flatten.sum.max(1e-9))
    w.sizes.foreach { case (n, v) => ctx.put(n, v) }
    val genArr = ctx.putArray("generate_s")
    gens.foreach(g => genArr.add(g))
    val samples = ctx.putObject("samples")
    ledger.samples.foreach { case (n, xs) =>
      val arr = samples.putArray(n)
      xs.foreach(x => arr.add(x))
    }
    val fails = ctx.putArray("failures")
    ledger.failures.take(50).foreach(f => fails.add(f))

    val res = mapper.createObjectNode()
    res.put("correct", correct).put("attempted", ledger.attempted).put("failed", ledger.failed)
    val m = res.putObject("metrics")
    val units = names.toMap
    metrics.foreach { case (n, v) =>
      m.putObject(n).put("value", v.getOrElse(0.0)).put("unit", units(n))
    }
    if (a.trace) writeTrace(mapper, a, ctx, traces)
    Result(mapper.writeValueAsString(mapper.createObjectNode().set[ObjectNode]("context", ctx)),
      mapper.writeValueAsString(res), ledger, metrics.collect { case (n, Some(v)) => n -> v }.toMap)
  }

  /** Aggregate over spans: summed, except peak memory (max), skew (of
    * the longest stage) and slot utilisation (of the summed walls). */
  private def aggregate(spans: Seq[SpanStats], metric: String, cores: Int): Double = metric match {
    case "peak_exec_mem_mb" => spans.map(_.peakExecMemMb).max
    case "task_skew"        => spans.maxBy(_.longestStageMs).taskSkew
    case "slot_util"        => spans.map(_.execRunS).sum / (spans.map(_.span.wallS).sum.max(1e-9) * cores)
    case "jobs"             => spans.map(_.jobs).sum.toDouble
    case "stages"           => spans.map(_.stages).sum.toDouble
    case m                  => spans.map(_.metric(m)).sum
  }

  /** One traced round's per-layer figures. */
  private def perLayer(spans: Seq[SpanStats], cores: Int): Map[String, Double] =
    PerLayer.map(_._1).filter(_ != "trace_overhead").map(m => m -> aggregate(spans, m, cores)).toMap

  /** The run's trace: every traced span, and per span name the median
    * over traced rounds of each span metric (spans of one name within a
    * round — the suite's queries of one module — aggregated first). */
  private def writeTrace(mapper: ObjectMapper, a: Args, ctx: ObjectNode,
      rounds: Seq[Seq[SpanStats]]): Unit = {
    val root = mapper.createObjectNode()
    root.set[ObjectNode]("context", ctx)
    val summary = root.putObject("span_summary")
    val perRound = rounds.flatMap(_.groupBy(_.span.name).toSeq)
    perRound.map(_._1).distinct.foreach { name =>
      val node = summary.putObject(name)
      val mine = perRound.filter(_._1 == name).map(_._2)
      SpanMetrics.foreach(m => node.put(m, Ledger.median(mine.map(aggregate(_, m, a.cores)))))
    }
    val arr = root.putArray("spans")
    rounds.zipWithIndex.foreach { case (r, i) =>
      r.foreach { s =>
        val n = arr.addObject()
        n.put("round", i).put("span", s.span.name).put("start_ms", s.span.startMs)
          .put("end_ms", s.span.endMs).put("jobs", s.jobs).put("stages", s.stages)
          .put("cpu_s", s.span.cpuS).put("jit_cpu_s", s.span.jitS)
        SpanMetrics.foreach(m => n.put(m, s.metric(m)))
      }
    }
    val dir = new File(s"${a.work}/traces")
    dir.mkdirs()
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(dir, s"trace-${a.workload}-seed${a.seed}.json"), root)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
