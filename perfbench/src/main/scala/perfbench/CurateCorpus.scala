package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextStats}

/** curate_corpus: near-dup clustering plus the frozen-model quality gates
  * over a corpus with planted exact and near duplicates. See README.md. */
final class CurateCorpus(ctx: Ctx) extends BatchWorkload(ctx) {
  val spec = DocSpec(ctx.seed, docs = 2000, exactGroups = 80, exactCopies = 3,
    nearGroups = 80, nearVariants = 2, editTokens = 2)
  /** The trusted slice the frozen models train on, disjoint ids. */
  private val seedSpec = DocSpec(7919L, docs = 500, exactGroups = 0, nearGroups = 0)
  val seedIdOffset = 100000000L
  val stopwords = Seq("the", "a")
  val nearRecallFloor = 0.85
  /** The near-dup stage estimates Jaccard from 16 MinHash values, so it
    * can also merge a pair that is not similar; this share of documents
    * must keep their canonical inside their own planted group. */
  val precisionFloor = 0.995
  val gopherMinWords = 40
  private def path(name: String) = ctx.work.resolve(s"input/$name").toString
  private var docs: DataFrame = _
  private var lm: DataFrame = _
  private var weights: DataFrame = _
  def inputUnits: Long = spec.docs.toLong

  def params: Seq[(String, Any)] = spec.params ++ Seq(
    "model_seed_docs" -> seedSpec.docs, "model_seed" -> seedSpec.seed, "stopwords" -> stopwords,
    "ppx_max_avg_bits_x100" -> 1200, "quality_dims" -> 64, "quality_iters" -> 3,
    "minhash" -> "16 hashes, 4 bands, threshold 0.5",
    "near_recall_floor" -> nearRecallFloor, "precision_floor" -> precisionFloor,
    "min_passes" -> minPasses, "unit" -> "document")

  /** Model artifacts live in the build's cache: they depend only on the
    * engine build and the fixed seed slice, not on the run's seed. */
  private def models(name: String) = ctx.cache.resolve(s"curate-model-$name").toString

  /** The corpus, and the two frozen models trained on the seed slice the
    * way `t_pipeline_frozen` trains them (labels from token diversity):
    * model artifacts are inputs to the curation job, made before it runs. */
  def generate(spark: SparkSession): Unit = {
    spec.corpus(spark, ctx.nproc).write.mode("overwrite").parquet(path("docs"))
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(models("quality"), "_SUCCESS"))) {
      val seed = seedSpec.corpus(spark, ctx.nproc, seedIdOffset).toDF()
      val t = TextStats.tokens(col("text"))
      val labeled = seed.select(col("doc_id"), col("text"),
        when(size(array_distinct(t)) * 2 >= size(t), 1L).otherwise(-1L).as("y"))
      TextStats.ngramLmModel(seed).write.mode("overwrite").parquet(models("lm"))
      TextStats.qualityModelTrain(labeled, dims = 64, iters = 3)
        .write.mode("overwrite").parquet(models("quality"))
      spark.catalog.clearCache()
    }
  }

  /** Hot state: the corpus and the two frozen models. */
  def setup(spark: SparkSession): Unit = {
    docs = spark.read.parquet(path("docs")).localCheckpoint()
    lm = spark.read.parquet(models("lm")).localCheckpoint()
    weights = spark.read.parquet(models("quality")).localCheckpoint()
  }

  /** One untimed pass over the corpus. */
  def warmup(spark: SparkSession): Unit = timedPass(spark, new Tracer(false))

  def teardown(spark: SparkSession): Unit =
    Seq(docs, lm, weights).foreach(_.unpersist(true))

  def hotMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  def pass(spark: SparkSession, tracer: Tracer, id: Long, root: Long): Unit = {
    stage(spark, tracer, id, root, "textstats.gates") {
      val gop = TextStats.gopherRules(docs, stopwords, minWords = gopherMinWords)
        .select(col("doc_id"), col("is_keep").as("gopher_keep"))
      val ppx = TextStats.ngramPerplexityAgainst(docs, lm, maxAvgBitsX100 = 1200)
        .select(col("doc_id"), col("ppx_keep"))
      val qual = TextStats.qualityScoreAgainst(docs, weights).select(col("doc_id"), col("q_keep"))
      gop.join(ppx, "doc_id").join(qual, "doc_id")
    }(write("gates"))
    stage(spark, tracer, id, root, "dedup.pipeline")(Dedup.pipelineCanonical(docs))(write("canonical"))
  }

  def layerFigures(spark: SparkSession, tracer: Tracer, l: OpListener, passes: Int,
                   cpuUtil: Double): Seq[(String, Double)] = {
    val common = commonLayers(tracer, l, Set("textstats.gates", "dedup.pipeline"), passes, cpuUtil)
    val ccJobs = l.total(Set("dedup.pipeline"))(_.jobs).toDouble / passes
    // The pipeline's stages, each timed on its own after the passes.
    val t = new Tracer(true)
    val survivors = stage(spark, t, 0, 0, "dedup.exact")(Dedup.exact(docs)) { df =>
      val ids = df.select(col("canonical_id").as("doc_id")).localCheckpoint()
      docs.join(ids, Seq("doc_id"), "left_semi")
    }
    stage(spark, t, 0, 0, "dedup.near")(Dedup.minhashLshComponents(survivors))(_.count())
    val pairs = Dedup.minhashLshPairs(survivors, threshold = 0.0)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val useful = pairs.count { case (a, b) =>
      spec.nearGroupOf(a).isDefined && spec.nearGroupOf(a) == spec.nearGroupOf(b) }
    spark.catalog.clearCache()
    common ++ Seq(
      "dedup.exact_ms" -> stageMs(t, "dedup.exact", 1),
      "dedup.near_ms" -> stageMs(t, "dedup.near", 1),
      "dedup.cc_jobs" -> ccJobs,
      "dedup.candidate_pairs" -> pairs.length.toDouble,
      "dedup.useful_pair_ratio" -> useful.toDouble / math.max(1, pairs.length),
      "textstats.gates_ms" -> stageMs(tracer, "textstats.gates", passes))
  }

  /** The gopher rule battery (`TextStats.gopherRules`) applied to the
    * generated text directly: the expected verdict of every document. */
  def gopherExpected(text: String): Long = {
    val t = text.split(" ", -1)
    val n = t.length.toLong
    val chars = text.count(_ != ' ').toLong
    val alpha = t.count(_.exists(_.isLetter)).toLong
    val symbols = t.count(w => w.startsWith("#") || w.contains("...")).toLong
    val stops = t.count(stopwords.contains).toLong
    if (n >= gopherMinWords && chars >= 3 * n && chars <= 10 * n && 10 * symbols <= n &&
        5 * alpha > 4 * n && stops >= 2) 1L else 0L
  }

  /** Dedup recall and precision against the planted groups, and the gate
    * verdicts: every doc gets one verdict and one canonical; planted exact
    * groups collapse to one canonical; planted near variants join their
    * original's cluster (recall); documents keep their canonical inside
    * their own planted group, so a unique doc is its own canonical
    * (precision); the canonical count is the closed form at full recall,
    * within what the missed variants and stray merges allow; the gopher verdicts match the rules applied to the
    * text; byte-identical copies get the same verdict from every gate. */
  def checks(spark: SparkSession): Seq[Check] = {
    val canon = spark.read.parquet(sink.resolve("canonical").toString)
      .select(col("doc_id"), col("canonical_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gates = spark.read.parquet(sink.resolve("gates").toString)
      .select(col("doc_id"), col("gopher_keep"), col("ppx_keep"), col("q_keep")).collect()
      .map(r => r.getLong(0) -> Seq(1, 2, 3).map(r.getAs[Number](_).longValue)).toMap
    val exactOk = (0 until spec.exactGroups).forall { g =>
      (0 until spec.exactCopies).map(c => canon.get(g.toLong * spec.exactCopies + c)).distinct.size == 1
    }
    val variants = for (g <- 0 until spec.nearGroups; v <- 1 to spec.nearVariants)
      yield canon.get(spec.nearOriginal(g) + v) == canon.get(spec.nearOriginal(g))
    val joined = variants.count(identity)
    val recall = joined.toDouble / math.max(1, variants.size)
    val strays = canon.count { case (d, c) => !spec.samePlantedGroup(d, c) }
    val precision = 1.0 - strays.toDouble / spec.docs
    val canonicals = canon.values.toSet.size
    // At full recall every planted group is one cluster. A missed variant
    // adds at most one cluster (two variants can still join each other),
    // and a stray merge removes at most one.
    val fullRecall = spec.docs - spec.exactGroups * (spec.exactCopies - 1) -
      spec.nearGroups * spec.nearVariants
    val missed = variants.size - joined
    val gopherWrong = (0L until spec.docs).count(d =>
      !gates.get(d).exists(_.head == gopherExpected(spec.text(d))))
    val copiesSplit = (0 until spec.exactGroups).count { g =>
      val ids = (0 until spec.exactCopies).map(c => g.toLong * spec.exactCopies + c)
      ids.groupBy(spec.text).values.exists(same => same.map(gates.get).distinct.size > 1)
    }
    Seq(
      Check("curate_corpus.one_verdict_per_doc", canon.size == spec.docs && gates.size == spec.docs,
        s"${canon.size} canonical rows, ${gates.size} gate rows, ${spec.docs} docs"),
      Check("curate_corpus.exact_groups_collapse", exactOk, s"${spec.exactGroups} planted groups"),
      Check("curate_corpus.near_dup_recall", recall >= nearRecallFloor,
        f"recall $recall%.4f, floor $nearRecallFloor"),
      Check("curate_corpus.precision", precision >= precisionFloor,
        f"$strays docs whose canonical lies outside their planted group, precision $precision%.4f, floor $precisionFloor"),
      Check("curate_corpus.canonical_count",
        canonicals >= fullRecall - strays && canonicals <= fullRecall + missed,
        s"$canonicals canonicals, expected $fullRecall at full recall, plus at most $missed " +
          s"missed variants, less at most $strays stray merges"),
      Check("curate_corpus.gopher_verdicts", gopherWrong == 0,
        s"$gopherWrong docs whose gopher verdict differs from the rules"),
      Check("curate_corpus.identical_copies_same_verdicts", copiesSplit == 0,
        s"$copiesSplit exact groups whose identical copies got different verdicts"))
  }
}
