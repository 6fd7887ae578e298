package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.util.Try

/** Host context recorded beside every result. None of it rescales a
  * metric: it lets a reader judge whether two results ran on comparable
  * cycles. */
object Host {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU-seconds this process has used so far (all threads). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU-seconds the JVM's JIT compiler threads have used so far, read
    * from `/proc/self/task/<tid>/schedstat` (0 where there is no such
    * file). The JVM is started with a fixed set of compiler threads
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none of them exits
    * and takes its CPU time out of the sum. */
  def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).map { t =>
      Try {
        val name = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre"))
          new String(Files.readAllBytes(new File(t, "schedstat").toPath)).trim
            .split(' ')(0).toLong / 1e9
        else 0.0
      }.getOrElse(0.0)
    }.sum

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** A fixed integer burn: its wall time depends only on the cycles the
    * host delivers (same loop as `graft.Bench`'s calibration). */
  private def burnOnce(seed: Long): Unit = {
    var x = seed
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) print("") // keeps the loop observable
  }

  private def median3(f: () => Double): Double = Seq(f(), f(), f()).sorted.apply(1)

  /** (1-thread ms, N-thread ms): median of 3 of one burn, and of `n`
    * concurrent burns timed until the last one finishes. */
  def calibrate(n: Int): (Double, Double) = {
    val single = median3 { () =>
      val t0 = System.nanoTime(); burnOnce(0x9E3779B97F4A7C15L)
      (System.nanoTime() - t0) / 1e6
    }
    val multi = median3 { () =>
      val t0 = System.nanoTime()
      val ts = (1 to n).map(i => new Thread(() => burnOnce(0x9E3779B97F4A7C15L + i)))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    (single, multi)
  }
}
