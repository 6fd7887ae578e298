package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.datagen.DocsGen
import graft.dedup.DedupStore
import graft.pipeline.PretrainPipeline

/** The daily-crawl curation flow: clean a corpus (staged), build an
  * incremental dedup store on the cleaned corpus, probe an increment
  * against it, and append the survivors.
  *
  * Inputs from the seed: a `DocsGen` corpus whose ids start at a
  * seed-chosen multiple of 20, so DocsGen's planted per-20-id-block
  * mixture holds and its counts are exact; the increment is half copies
  * of unique corpus docs and half fresh docs of the same kind. */
final class Curation(spark: SparkSession, seed: Long, tiny: Boolean) extends Workload {

  import Curation.IncIdBase
  import spark.implicits._

  private val (nDocs, nInc) = if (tiny) (400L, 40L) else (2000L, 200L)

  private var inputs = ""
  private var offset = 0L
  private def docs = s"$inputs/docs"
  private def increment = s"$inputs/increment"

  def sizes: Seq[(String, Long)] = Seq(
    "docs" -> nDocs, "increment_docs" -> nInc, "doc_offset" -> offset)

  // the JIT compiles several seconds of CPU per round for the first few
  // rounds; measured rounds start past the steepest part
  def warmups: Int = 3

  def generate(into: String): Unit = {
    inputs = into
    val first = 20L * Math.floorMod(new scala.util.Random(seed).nextLong(), 50000L)
    offset = first
    spark.range(first, first + nDocs).map(i => (i, DocsGen.text(i)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docs)
    // copies of corpus docs at block offsets 0-9 (unique English docs the
    // cleaning keeps), then fresh docs of the same kind past the corpus
    val half = nInc / 2
    val fresh = first + nDocs + 20L
    spark.range(nInc).map { id =>
      val i: Long = id
      val j = if (i < half) i else i - half
      val src = 20L * (j / 10) + (j % 10) + (if (i < half) first else fresh)
      (IncIdBase + i, DocsGen.text(src))
    }.toDF("doc_id", "text").write.mode("overwrite").parquet(increment)
  }

  def round(dir: String, full: Boolean, ledger: Ledger, timed: Timed): Unit = {
    val n = nDocs
    val half = nInc / 2
    val kept = n * 16 / 20
    val cleaned = s"$dir/cleaned"
    val storeDir = s"$dir/store"
    val inc = spark.read.parquet(increment)
    val cleanOk = ledger.op("curation.clean") { c =>
      timed("pipeline.clean") {
        PretrainPipeline.cleanDetailed(spark.read.parquet(docs), stageDir = Some(s"$dir/stage"))._1
          .write.mode("overwrite").parquet(cleaned)
      }
      // DocsGen's planted mixture: exact dedup drops 1 doc per 20-id
      // block; PairDrop near-dup and the language/quality filters 3 more
      if (full) c.eq("clean.exact_rows", spark.read.parquet(s"$dir/stage/exact_dedup").count(), n * 19 / 20)
      c.eq("clean.rows", spark.read.parquet(cleaned).count(), kept)
    }
    if (!cleanOk) return
    var store: DedupStore.Store = null
    val built = ledger.op("curation.build") { c =>
      store = timed("dedup_store.build") {
        // one bucket per core, as DedupStore.Params advises
        DedupStore.build(spark.read.parquet(cleaned), "text", "doc_id", storeDir,
          DedupStore.Params(nBuckets = spark.sparkContext.defaultParallelism))
      }._2
      if (full) c.eq("store.fingerprints", store.fingerprints.count(), kept)
    }
    if (!built) return
    def newDocs = DedupStore.newDocs(store, inc, "text", "doc_id")
    def nearDups = DedupStore.nearDups(store, inc, "text", "doc_id")
    val probed = ledger.op("curation.probe") { c =>
      timed("dedup_store.new_docs") { newDocs.write.mode("overwrite").format("noop").save() }
      timed("dedup_store.near_dups") { nearDups.write.mode("overwrite").format("noop").save() }
      // each copy hits the store exactly once, each fresh doc never
      c.eq("probe.new_docs", newDocs.count(), half)
      c.eq("probe.near_dups", nearDups.count(), half)
      if (full) {
        c.eq("probe.new_docs_copies", newDocs.filter(col("doc_id") < IncIdBase + half).count(), 0L)
        c.eq("probe.near_dups_fresh_or_partial",
          nearDups.filter(col("inc_id") >= IncIdBase + half || col("sig_agreement") < 1.0).count(), 0L)
      }
    }
    if (!probed) return
    ledger.op("curation.append") { c =>
      timed("dedup_store.append") {
        val survivors = newDocs.join(nearDups.select(col("inc_id").as("doc_id")), Seq("doc_id"), "left_anti")
        DedupStore.append(store, survivors, "text", "doc_id")
      }
      c.eq("append.fingerprints", store.fingerprints.count(), kept + half)
      if (full) c.eq("append.new_docs_after", newDocs.count(), 0L)
    }
  }
}

object Curation {
  /** Increment doc ids start here, past any corpus id. */
  val IncIdBase = 1000000000L
}
