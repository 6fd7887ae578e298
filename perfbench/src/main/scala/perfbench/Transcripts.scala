package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.datagen.TranscriptGen
import graft.engine.FeatureEngine
import graft.features.{TranscriptFeatures, Turn}
import graft.materialize.Materializer

/** The transcript feature path: backfill (materialize into a fresh sink,
  * then resume on the finished sink) and point-in-time retrieval of a
  * two-view feature service over the same transcripts.
  *
  * Inputs from the seed: `TranscriptGen.turns` with hot conversations at
  * 50× the turns, the per-turn feature table written once at set-up (the
  * first retrieval view), and dense probes (`TranscriptGen.probes`). */
final class Transcripts(spark: SparkSession, seed: Long, tiny: Boolean) extends Workload {

  import spark.implicits._

  private val (nConvs, avgTurns, hotConvs, hotFactor, probesPerConv) =
    if (tiny) (60, 8, 2, 10, 8) else (2000, 20, 10, 50, 16)
  private val TtlDays = 30
  private val HourTtlDays = 2

  private var inputs = ""
  private var nTurns = 0L
  private var nProbes = 0L
  private var sampleConvs = Seq.empty[String]

  private def turns = s"$inputs/turns"
  private def features = s"$inputs/turn_features"
  private def probes = s"$inputs/probes"

  def sizes: Seq[(String, Long)] = Seq(
    "conversations" -> nConvs.toLong, "turns" -> nTurns, "probes" -> nProbes)

  // short rounds whose JIT compilation keeps falling for several rounds:
  // with fewer warm-ups, runs measure different points of that curve
  def warmups: Int = 6

  def generate(into: String): Unit = {
    inputs = into
    TranscriptGen.turns(spark, nConvs, avgTurns = avgTurns, hotConvs = hotConvs,
      hotFactor = hotFactor, seed = seed).write.mode("overwrite").parquet(turns)
    val t = spark.read.parquet(turns)
    // the per-turn feature view, with its own event time kept as a value
    // so retrieval outputs can be checked for leakage
    TranscriptFeatures.turnFeaturesNarrow(t)
      .withColumn("feat_ts_us", unix_micros(col("ts")))
      .write.mode("overwrite").parquet(features)
    TranscriptGen.probes(spark, t.as[Turn], perConv = probesPerConv, seed = seed)
      .select(col("conv_id"), col("ts").as("event_timestamp"),
        monotonically_increasing_id().as("probe_id"))
      .write.mode("overwrite").parquet(probes)
    nTurns = spark.read.parquet(turns).count()
    nProbes = spark.read.parquet(probes).count()
    // a hot conversation (conv 0) plus a seeded handful of ordinary ones
    val rng = new scala.util.Random(seed)
    sampleConvs = (0 +: Seq.fill(5)(hotConvs + rng.nextInt(nConvs - hotConvs)))
      .distinct.map(i => f"conv_$i%08d")
  }

  def round(dir: String, full: Boolean, ledger: Ledger, timed: Timed): Unit = {
    val sink = s"$dir/features"
    def input = TranscriptFeatures.turnFeaturesNarrow(spark.read.parquet(turns))
    val fresh = ledger.op("backfill.fresh") { c =>
      val (_, r) = timed("materialize.fresh") {
        Materializer.materialize(spark, input, "ts", sink)
      }
      c.eq("backfill.rows", r.totalRows, nTurns)
      c.holds("backfill.buckets", r.completed > 0 && r.skipped == 0,
        s"fresh sink computed ${r.completed} buckets, resumed ${r.skipped}")
      if (full) checkCumulative(c, sink)
    }
    if (fresh) ledger.op("backfill.resume") { c =>
      val (_, r) = timed("materialize.resume") {
        Materializer.materialize(spark, input, "ts", sink)
      }
      c.eq("resume.computed_buckets", r.completed, 0)
      c.eq("resume.rows", r.totalRows, nTurns)
      if (full) c.eq("resume.sink_rows", Materializer.read(spark, sink).count(), nTurns)
    }
    ledger.op("retrieval") { c =>
      val (_, engine) = timed("engine.register") {
        val e = new FeatureEngine(spark)
        e.applyConfig(engineConfig)
        e.createFromYamlText(serviceYaml)
        e
      }
      val (_, out) = timed("engine.retrieve") {
        engine.retrieve(spark.read.parquet(probes), "conversation_service")
      }
      timed("asof.exec") { out.write.mode("overwrite").format("noop").save() }
      // rows and leakage in one pass over the output
      val probeUs = unix_micros(col("event_timestamp"))
      val leak = col("feat_ts_us") > probeUs || col("hour_end_us") > probeUs ||
        col("feat_ts_us") < probeUs - TtlDays * 86400L * 1000000L ||
        col("hour_end_us") < probeUs - HourTtlDays * 86400L * 1000000L
      val tally = out.agg(count(lit(1)), count(when(leak, 1))).head()
      c.eq("retrieval.rows", tally.getLong(0), nProbes)
      c.eq("retrieval.leakage", tally.getLong(1), 0L)
      if (full) {
        val cols = replayCols.map(col)
        def bag(df: DataFrame) =
          df.select(cols: _*).collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
        val got = bag(out.filter(col("conv_id").isin(sampleConvs: _*)))
        val want = bag(replay())
        c.holds("retrieval.replay_nonempty", want.nonEmpty, "no sampled probes")
        c.eq("retrieval.replay_missing", want.count { case (r, n) => !got.get(r).contains(n) }, 0)
        c.eq("retrieval.replay_extra", got.count { case (r, n) => !want.get(r).contains(n) }, 0)
      }
    }
  }

  /** `turns_so_far`/`tokens_so_far` of the sampled conversations against
    * a driver-side recomputation from the raw turns. */
  private def checkCumulative(c: Check, sink: String): Unit = {
    val raw = spark.read.parquet(turns).filter(col("conv_id").isin(sampleConvs: _*))
      .select("conv_id", "turn_idx", "ts", "text").as[(String, Int, java.sql.Timestamp, String)]
      .collect()
    val expected = raw.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      val toks = sorted.map(_._4.split("\\s+").count(_.nonEmpty).toLong).scanLeft(0L)(_ + _).tail
      sorted.indices.map(i => (sorted(i)._1, sorted(i)._2) -> ((i + 1).toLong, toks(i)))
    }.toMap
    val got = Materializer.read(spark, sink).filter(col("conv_id").isin(sampleConvs: _*))
      .select("conv_id", "turn_idx", "turns_so_far", "tokens_so_far")
      .as[(String, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    c.eq("backfill.sampled_rows", got.size, expected.size)
    c.eq("backfill.cumulative_mismatches",
      expected.count { case (k, v) => !got.get(k).contains(v) }, 0)
  }

  private def engineConfig: Map[String, Any] = Map(
    "entities" -> Seq(Map("name" -> "conversation", "join_key" -> "conv_id",
      "description" -> "transcript conversation")),
    "data_sources" -> Map(
      "turn_features" -> Map(
        "type" -> "file",
        "path" -> features,
        "timestamp_field" -> "ts",
        "created_timestamp_column" -> "turn_idx"),
      // hourly tool counts, stamped at the END of the hour they cover so
      // a probe never sees turns after its own time
      "hourly_tools" -> Map(
        "type" -> "spark",
        "query" -> ("SELECT conv_id, hour_end, COUNT(*) AS turns_in_hour, " +
          "SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS tool_calls_in_hour, " +
          "unix_micros(hour_end) AS hour_end_us FROM (SELECT conv_id, tool, " +
          "date_trunc('HOUR', ts) + INTERVAL 1 HOUR AS hour_end " +
          s"FROM parquet.`$turns`) GROUP BY conv_id, hour_end"),
        "timestamp_field" -> "hour_end")))

  private val serviceYaml: String =
    s"""feature_views:
       |  turn_stats:
       |    source_name: turn_features
       |    entities: [conversation]
       |    ttl_days: $TtlDays
       |    schema:
       |      - name: turns_so_far
       |        dtype: INT64
       |      - name: tokens_so_far
       |        dtype: INT64
       |      - name: tool_rate_so_far
       |        dtype: FLOAT
       |      - name: feat_ts_us
       |        dtype: INT64
       |  hourly_tools:
       |    source_name: hourly_tools
       |    entities: [conversation]
       |    ttl_days: $HourTtlDays
       |    schema:
       |      - name: turns_in_hour
       |        dtype: INT64
       |      - name: tool_calls_in_hour
       |        dtype: INT64
       |      - name: hour_end_us
       |        dtype: INT64
       |feature_services:
       |  conversation_service:
       |    features: [turn_stats, hourly_tools]""".stripMargin

  /** Naive point-in-time replay of the sampled conversations: a range
    * join per view, latest in-TTL row by ROW_NUMBER (greatest `turn_idx`
    * wins equal timestamps), joined back per probe. */
  private def replay(): DataFrame = {
    def sampled(path: String) = spark.read.parquet(path).filter(col("conv_id").isin(sampleConvs: _*))
    val p = sampled(probes).as("p")
    val f = sampled(features).as("f")
    val h = sampled(turns)
      .withColumn("hour_end", date_trunc("HOUR", col("ts")) + expr("INTERVAL 1 HOUR"))
      .groupBy("conv_id", "hour_end")
      .agg(count(lit(1)).as("turns_in_hour"),
        sum(when(col("tool") =!= "", 1).otherwise(0)).cast("long").as("tool_calls_in_hour"))
      .withColumn("hour_end_us", unix_micros(col("hour_end"))).as("h")
    def latest(side: DataFrame, ts: String, ttlDays: Int, order: Seq[Column],
        keep: Seq[String]): DataFrame =
      p.join(side, col("p.conv_id") === side("conv_id") && side(ts) <= col("p.event_timestamp") &&
          side(ts) >= col("p.event_timestamp") - expr(s"INTERVAL $ttlDays DAYS"))
        .withColumn("_rn", row_number().over(Window.partitionBy(col("p.probe_id")).orderBy(order: _*)))
        .filter(col("_rn") === 1)
        .select(col("p.probe_id") +: keep.map(side(_)): _*)
    val v1 = latest(f, "ts", TtlDays, Seq(col("f.ts").desc, col("f.turn_idx").desc), v1Cols)
    val v2 = latest(h, "hour_end", HourTtlDays, Seq(col("h.hour_end").desc), v2Cols)
    p.select("conv_id", "event_timestamp", "probe_id")
      .join(v1, Seq("probe_id"), "left").join(v2, Seq("probe_id"), "left")
      .select(replayCols.map(col): _*)
  }

  private val v1Cols = Seq("turns_so_far", "tokens_so_far", "tool_rate_so_far", "feat_ts_us")
  private val v2Cols = Seq("turns_in_hour", "tool_calls_in_hour", "hour_end_us")
  private val replayCols = Seq("conv_id", "event_timestamp", "probe_id") ++ v1Cols ++ v2Cols
}
