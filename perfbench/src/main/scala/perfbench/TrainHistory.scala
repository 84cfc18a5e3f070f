package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.ingest.Parse
import graft.ops.{Forecast, Latest, Sequences}

/** train_history: batch replay of a multi-week Kafka history with error
  * rows, redeliveries and late arrivals, through parse, dedup, sequence
  * windows and forecast into a parquet sink. See README.md. */
final class TrainHistory(ctx: Ctx) extends BatchWorkload(ctx) {
  val spec = WeatherSpec(ctx.seed, locations = 20, steps = 14 * 288, errorShare = 0.02,
    redeliveryShare = 0.05, outOfOrderShare = 0.05)
  val seqLen = 24
  val targets = 6
  val forecastSteps = 288
  val features = Seq("value", "humidity")
  private def path(name: String) = ctx.work.resolve(s"input/$name").toString
  private var frames: DataFrame = _
  private var units = 0L
  def inputUnits: Long = units

  def params: Seq[(String, Any)] = spec.params ++ Seq(
    "seq_len" -> seqLen, "forecast_targets" -> targets, "forecast_steps" -> forecastSteps,
    "features" -> features, "min_passes" -> minPasses, "unit" -> "input Kafka frame")

  def generate(spark: SparkSession): Unit =
    spec.allFrames(spark, ctx.nproc).write.mode("overwrite").parquet(path("train_frames"))

  def setup(spark: SparkSession): Unit = {
    frames = spark.read.parquet(path("train_frames")).localCheckpoint()
    units = frames.count()
  }

  /** One untimed pass over the history. */
  def warmup(spark: SparkSession): Unit = timedPass(spark, new Tracer(false))

  def teardown(spark: SparkSession): Unit = frames.unpersist(true)

  def hotMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  def pass(spark: SparkSession, tracer: Tracer, id: Long, root: Long): Unit = {
    val parsed = stage(spark, tracer, id, root, "ingest.parse") {
      Gen.observations(Parse.analyzable(Parse.fromKafka(frames)))
    } { df => val p = df.persist(); p.count(); p }
    val clean = stage(spark, tracer, id, root, "ops.dedupe") {
      Latest.dedupePerLocationTime(parsed)
    } { df => val p = df.persist(); p.count(); p }
    stage(spark, tracer, id, root, "ops.sequences")(
      Sequences.build(clean, seqLen, targets, features))(write("sequences"))
    stage(spark, tracer, id, root, "ops.features")(
      Sequences.flatFeatures(clean, seqLen, targets, "value"))(write("features"))
    stage(spark, tracer, id, root, "ops.forecast")(
      Forecast.hourlyRollup(Forecast.linear(clean, seqLen, forecastSteps)))(write("forecast"))
    parsed.unpersist(); clean.unpersist()
  }

  private def sinkRows(spark: SparkSession, name: String): Long =
    spark.read.parquet(sink.resolve(name).toString).count()

  def layerFigures(spark: SparkSession, tracer: Tracer, l: OpListener, passes: Int,
                   cpuUtil: Double): Seq[(String, Double)] = {
    val stages = Set("ingest.parse", "ops.dedupe", "ops.sequences", "ops.features", "ops.forecast")
    val parseS = stageMs(tracer, "ingest.parse", passes) / 1000.0
    val valid = (0 until spec.locations).map(spec.validCount).sum
    val forecastS = stageMs(tracer, "ops.forecast", passes) / 1000.0
    commonLayers(tracer, l, stages, passes, cpuUtil) ++ Seq(
      "ingest.parse_rows_per_s" -> units / parseS,
      "ingest.rows_dropped_ratio" -> (1.0 - valid.toDouble / units),
      "ops.sequences_ms" -> (stageMs(tracer, "ops.sequences", passes) +
        stageMs(tracer, "ops.features", passes)),
      "ops.sequences_rows_out" -> sinkRows(spark, "sequences").toDouble,
      "ops.forecast_ms" -> forecastS * 1000.0,
      "ops.forecast_steps_per_s" -> spec.locations.toDouble * forecastSteps / forecastS)
  }

  /** Sequence rows: per station, valid readings minus the window and
    * target spans; forecast rows: every station's steps, by hour. */
  def checks(spark: SparkSession): Seq[Check] = {
    val expected = (0 until spec.locations).map(l =>
      math.max(0, spec.validCount(l) - seqLen - targets + 1).toLong).sum
    val seqs = sinkRows(spark, "sequences")
    val feats = sinkRows(spark, "features")
    val fc = spark.read.parquet(sink.resolve("forecast").toString)
      .agg(sum(col("n_steps"))).first().getLong(0)
    Seq(
      Check("train_history.sequence_rows", seqs == expected, s"$seqs rows, expected $expected"),
      Check("train_history.feature_rows", feats == expected, s"$feats rows, expected $expected"),
      Check("train_history.forecast_steps", fc == spec.locations.toLong * forecastSteps,
        s"$fc forecast steps, expected ${spec.locations.toLong * forecastSteps}"))
  }
}
