package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Times engine calls as spans and keeps the spans of one round. */
final class Timed(rec: SpanRecorder) {
  val spans = mutable.ArrayBuffer[SpanRun]()
  def apply[A](name: String)(body: => A): (Double, A) = {
    val (r, a) = rec.span(name)(body)
    spans += r
    (r.wallS, a)
  }
}

/** One benchmark workload: inputs generated from the seed at set-up, and
  * a round — the unit of work that is timed and repeated. A round is a
  * sequence of checked ops (see [[Ledger.op]]): their engine calls are
  * the only timed regions, their outputs are checked afterwards, untimed,
  * and a failed check fails the op. */
trait Workload {
  /** Generate every input from the seed under `dir`; later ops read the
    * inputs of the last call. */
  def generate(dir: String): Unit

  /** Run one round, writing under `dir`. `full` adds the expensive
    * checks (replays, recomputations) to the cheap ones every round
    * runs. */
  def round(dir: String, full: Boolean, ledger: Ledger, timed: Timed): Unit

  /** Input sizes, recorded with the host context. */
  def sizes: Seq[(String, Long)]

  /** Untimed rounds before measuring: enough that the JIT has compiled
    * the round's hot paths, so measured rounds sit past the steep part
    * of the warm-up curve. */
  def warmups: Int
}

object Workload {
  val Names: Seq[String] = Seq("transcripts", "curation")

  /** @param tiny test-sized inputs, for the benchmark's own tests */
  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean): Workload = name match {
    case "transcripts" => new Transcripts(spark, seed, tiny)
    case "curation"    => new Curation(spark, seed, tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}
