package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed call into the engine: its name, wall interval, the process
  * CPU it consumed apart from JIT compilation (`cpuS`: driver, executor
  * and GC threads), and the JIT compiler threads' CPU (`jitS`). */
final case class SpanRun(
    name: String,
    startMs: Long,
    endMs: Long,
    wallS: Double,
    cpuS: Double,
    jitS: Double)

/** Per-layer figures of one span instance, derived from the Spark jobs
  * that ran inside it. */
final case class SpanStats(
    span: SpanRun,
    jobs: Int,
    stages: Int,
    driverS: Double,
    execCpuS: Double,
    execRunS: Double,
    shuffleWriteMb: Double,
    spillMb: Double,
    peakExecMemMb: Double,
    taskSkew: Double,
    slotUtil: Double,
    longestStageMs: Long) {

  def metric(name: String): Double = name match {
    case "wall_s"           => span.wallS
    case "driver_s"         => driverS
    case "exec_cpu_s"       => execCpuS
    case "shuffle_write_mb" => shuffleWriteMb
    case "spill_mb"         => spillMb
    case "peak_exec_mem_mb" => peakExecMemMb
    case "task_skew"        => taskSkew
    case "slot_util"        => slotUtil
  }
}

/** Outside-in span recorder: a `SparkListener` that keys every Spark job
  * to the benchmark span that caused it. Each span runs under its own
  * job group (`perfbench:<n>`); jobs started under another group (e.g.
  * a streaming query's micro-batches, which set their own group) are
  * keyed by their start time falling inside a span's wall interval.
  *
  * Listener events arrive asynchronously: [[stats]] drains the bus
  * before it reads anything. */
final class SpanRecorder(sc: SparkContext, cores: Int) extends SparkListener {

  import SpanRecorder._

  private val GroupPrefix = "perfbench:"

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageRecs = mutable.Map[(Int, Int), StageRec]()
  // (stage, attempt) -> per-task (executor run ms, peak execution memory)
  private val taskRecs = mutable.Map[(Int, Int), mutable.ArrayBuffer[(Long, Long)]]()
  // (job group id, span) in call order
  private val runs = mutable.ArrayBuffer[(String, SpanRun)]()
  private var nextId = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(group, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      taskRecs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .append((m.executorRunTime, m.peakExecutionMemory))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageRecs((i.stageId, i.attemptNumber())) = StageRec(
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorCpuTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Run `body` as the span `name`: under its own job group, timed by
    * wall clock, process CPU and JIT compiler CPU. */
  def span[A](name: String)(body: => A): (SpanRun, A) = {
    val group = synchronized { nextId += 1; s"$GroupPrefix$nextId" }
    sc.setJobGroup(group, name)
    val startMs = System.currentTimeMillis()
    val j0 = Host.jitCpuS()
    val c0 = Host.processCpuS()
    val t0 = System.nanoTime()
    try {
      val a = body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Host.processCpuS() - c0
      val jit = Host.jitCpuS() - j0
      val run = SpanRun(name, startMs, System.currentTimeMillis(), wall, cpu - jit, jit)
      synchronized { runs += group -> run }
      (run, a)
    } finally sc.clearJobGroup()
  }

  /** Per-layer figures of every span recorded so far, in call order. */
  def stats(): Seq[SpanStats] = {
    PerfbenchBus.drain(sc)
    synchronized {
      val indexOf = runs.map(_._1).zipWithIndex.toMap
      val jobsOf = jobs.groupBy { j =>
        j.group.flatMap(indexOf.get).orElse(
          Some(runs.indexWhere { case (_, r) => j.timeMs >= r.startMs && j.timeMs <= r.endMs })
            .filter(_ >= 0))
      }
      runs.toSeq.zipWithIndex.map { case ((_, r), i) =>
        val myJobs = jobsOf.getOrElse(Some(i), Nil)
        val stageIds = myJobs.flatMap(_.stageIds).toSet
        val st = stageRecs.toSeq.filter { case ((sid, _), _) => stageIds(sid) }
        val busyMs = unionMs(st.map { case (_, s) =>
          (math.max(s.submitMs, r.startMs), math.min(s.completeMs, r.endMs)) })
        val spanMs = math.max(1L, r.endMs - r.startMs)
        val execRunMs = st.map(_._2.execRunMs).sum
        val tasks = st.flatMap { case (k, _) => taskRecs.getOrElse(k, Nil) }
        val longest = st.sortBy { case (_, s) => -(s.completeMs - s.submitMs) }.headOption
        val skew = longest.flatMap { case (k, _) => taskRecs.get(k) }
          .filter(_.nonEmpty).map { ts =>
            val sorted = ts.map(_._1).sorted
            sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
          }.getOrElse(1.0)
        SpanStats(
          span = r,
          jobs = myJobs.size,
          stages = st.size,
          driverS = r.wallS * math.max(0.0, 1.0 - busyMs.toDouble / spanMs),
          execCpuS = st.map(_._2.execCpuNs).sum / 1e9,
          execRunS = execRunMs / 1000.0,
          shuffleWriteMb = st.map(_._2.shuffleWriteBytes).sum / 1048576.0,
          spillMb = st.map(_._2.spillBytes).sum / 1048576.0,
          peakExecMemMb = if (tasks.isEmpty) 0.0 else tasks.map(_._2).max / 1048576.0,
          taskSkew = skew,
          slotUtil = execRunMs / (spanMs.toDouble * cores),
          longestStageMs = longest.map { case (_, s) => s.completeMs - s.submitMs }.getOrElse(0L))
      }
    }
  }

  /** Length of the union of closed intervals (ms), ignoring empty ones. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object SpanRecorder {
  private final case class JobRec(group: Option[String], timeMs: Long, stageIds: Seq[Int])
  private final case class StageRec(
      submitMs: Long, completeMs: Long, execCpuNs: Long, execRunMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long)
}
