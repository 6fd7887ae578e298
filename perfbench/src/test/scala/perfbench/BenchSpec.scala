package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size runs of every workload: every named metric prints with its
  * unit and every check passes; a planted wrong expectation comes out
  * as a failed op, not as a timing. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("target/test-work").getAbsolutePath
  private lazy val spark: SparkSession = Main.session(2, work)
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = spark.stop()

  private def run(workload: String, trace: Boolean, plant: Set[String] = Set.empty) = {
    Main.deleteTree(new File(s"$work/run"))
    Main.run(spark, Main.Args(
      workload = workload, seed = 7L, seconds = 0.0, trace = trace,
      work = s"$work/run", cores = 2, tiny = true, plant = plant), sessionS = 1.0)
  }

  private def assertPrinted(r: Main.Result, names: Seq[(String, String)]): Unit = {
    val res = mapper.readTree(r.result)
    assert(res.get("correct").asBoolean(), r.context)
    assert(res.get("failed").asInt() == 0, r.context)
    assert(res.get("attempted").asInt() > 0)
    val m = res.get("metrics")
    assert(m.size() == names.size)
    names.foreach { case (n, unit) =>
      assert(m.has(n), s"missing metric $n")
      assert(m.get(n).get("unit").asText() == unit, n)
    }
  }

  for (w <- Workload.Names) {
    test(s"$w: every end-to-end metric prints with its unit and every check passes") {
      val r = run(w, trace = false)
      assertPrinted(r, Main.EndToEnd)
      Main.EndToEnd.foreach { case (n, _) => assert(r.metrics(n) > 0, n) }
    }

    test(s"$w: a traced run prints every per-layer metric and writes its trace") {
      val r = run(w, trace = true)
      assertPrinted(r, Main.PerLayer)
      assert(r.metrics("trace_overhead") > 0)
      assert(r.metrics("jobs") > 0)
      val trace = mapper.readTree(new File(s"$work/run/traces/trace-$w-seed7.json"))
      assert(trace.get("spans").size() > 0)
    }
  }

  test("the traced runs cover every named span") {
    val seen = Workload.Names.flatMap { w =>
      run(w, trace = true)
      val it = mapper.readTree(new File(s"$work/run/traces/trace-$w-seed7.json"))
        .get("span_summary").fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }.toSet
    val named = Seq("materialize.fresh", "materialize.resume", "engine.register",
      "engine.retrieve", "asof.exec", "pipeline.clean", "dedup_store.build",
      "dedup_store.new_docs", "dedup_store.near_dups", "dedup_store.append")
    assert(named.toSet.subsetOf(seen), named.filterNot(seen))
  }

  for ((w, check) <- Seq("curation" -> "clean.rows", "transcripts" -> "retrieval.rows")) {
    test(s"$w: a planted wrong expectation ($check) is a failed op, not a timing") {
      val r = run(w, trace = false, plant = Set(check))
      val res = mapper.readTree(r.result)
      assert(!res.get("correct").asBoolean())
      assert(res.get("failed").asInt() >= 1)
      assert(r.ledger.failures.exists(_.contains(check)))
      // every round hit the planted check, so no round produced a timing
      assert(r.ledger.samples.get("round_s").forall(_.isEmpty))
      assert(!r.metrics.contains("round_s"))
    }
  }
}
