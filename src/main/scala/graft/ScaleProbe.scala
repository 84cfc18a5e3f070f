package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsofJoin, Checkpoints, Curation, Dedup, EmbeddingSim, Forecast, Latest, Multimodal, Packing, Rollup, Sampling, Sequences, TextStats}
import graft.ingest.Parse
import graft.functions.FastMd5.fastMd5

/** Empirical scale probe: replicates the sf0.1 corpus N× (fresh ids, jittered
  * content so replicas aren't trivial dups) and times the operators whose
  * plans could hide super-linear behavior — near-dup joins, signature
  * builds, per-key windows. A healthy operator scales ≈ N×; a band/bucket
  * blow-up scales ≈ N². Usage: runMain graft.ScaleProbe [factor]
  */
object ScaleProbe {

  /** `exact = false` (default): prefix a replica marker token so replicas
    * are near- but not exact dups of each other (keeps dedup joins honest).
    * `exact = true`: byte-identical replicas under fresh ids — the
    * duplicate-SATURATED corpus shape the exact-first composition contract
    * targets (SPARK_GRAFT_PROBE_EXACTDUP=1; used by the
    * pipeline_canonical vs cluster_minhash comparison). */
  private def replicateDocs(docs: DataFrame, n: Int,
                            exact: Boolean = false): DataFrame = {
    val base = docs.count()
    (0 until n).map { i =>
      docs.select(
        (col("doc_id") + lit(i * base)).as("doc_id"),
        (if (exact) col("text")
         else concat(lit(s"r$i "), col("text"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  private def replicateVecs(vecs: DataFrame, n: Int): DataFrame = {
    val base = vecs.count()
    (0 until n).map { i =>
      vecs.select((col("vec_id") + lit(i * base)).as("vec_id"),
        transform(col("embedding"), x => x + lit(i * 1e-4f)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  private def replicateEvents(ev: DataFrame, n: Int): DataFrame = {
    val base = ev.count()
    (0 until n).map { i =>
      ev.select((col("event_id") + lit(i * base)).as("event_id"),
        (col("user_id") + lit(i * 1000)).as("user_id"),
        col("ts"), col("ts_ns"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  private def time(label: String)(f: => Long): (String, Double, Long) = {
    // loadavg on both sides of the timed section:
    // solo-probe rows are only comparable within a load window — the r15
    // re-measurement of the r14 ivf/ivfpq rows moved ×2.5–3 on window
    // alone, so every published row needs its window recorded
    val l0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val t0 = System.nanoTime()
    val rows = f
    val dt = (System.nanoTime() - t0) / 1e9
    val l1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    println(f"[probe-load] $label%-28s loadavg $l0%5.2f -> $l1%5.2f")
    (label, dt, rows)
  }

  /** Between-measurement hygiene ([[Session.reset]]): drop cached relations and
    * operator-pinned persisted RDDs so a timing can't reuse a previous
    * timing's materialization (e.g. cc_canonical re-deriving the simhash
    * signature that simhash_pairs just persisted via CacheManager plan
    * matching) — every probe measures the operator COLD. The replica
    * corpora are re-cached afterwards since clearCache drops them too.
    *
    * Broadcast teardown is NOT optional here: clearCache/unpersist leave
    * broadcast pieces behind, ContextCleaner only reaps them after a driver
    * GC, and at 48 GiB ParallelGC barely ever runs — so the 1× legs (where
    * AQE broadcasts nearly every join) quietly fill storage memory and a
    * 4-op probe run measured its own control op 3× slower than the same op
    * probed alone (minhash_lsh 79.3 s vs 26.1 s at 100×, round 9). */
  private def flush(spark: SparkSession, keep: Seq[DataFrame]): Unit = {
    Session.reset(spark)
    System.gc()
    keep.foreach { df => df.cache(); df.count() }
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val dir = "/root/testdata/sf0.1"
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Untimed JIT/codegen warm-up: without it the first probe
    // (cc_canonical, post-filter) absorbs the whole cold-start.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val docs1 = Tables.documents(spark, dir)
    val vecs1 = Tables.embeddings(spark, dir)
    val ev1 = Tables.events(spark, dir)

    // Optional probe filter (comma-separated op names) — the 100× run
    // targets the iterative/prefix-sum/auto-sized operators specifically.
    val onlyOps = sys.env.get("SPARK_GRAFT_PROBE_OPS").map(_.split(",").toSet)

    // emb_neardup_auto's plan sizing reads parquet FOOTER metadata, so each
    // scale needs its corpus ON DISK (multi-file at N× — this is exactly the
    // partitioned-layout path of Tables.parquetRowCount). Written under
    // target/, once per (factor, scale).
    // Always (re)written: an exists() guard would happily reuse the partial
    // output of a crashed run or stale data from a regenerated corpus.
    def writtenVecs(tag: String, vecs: DataFrame): String = {
      val path = s"target/scaleprobe/vecs_$tag"
      vecs.write.mode("overwrite").parquet(path)
      path
    }

    val mixWeights = Map("en" -> 4.0, "de" -> 2.0, "es" -> 2.0,
      "fr" -> 1.0, "zh" -> 1.0)

    // Replica-0 doc ids end here — the fixed-benchmark decontamination
    // probe filters its bench set to the 1x sliver by id.
    val docBase = docs1.count()

    // rows a parquet scan actually READ (post footer-stats row-group
    // pruning): the FileSourceScanExec numOutputRows of an EXECUTED plan,
    // AQE-unwrapped. One copy (review r20) — the sorted/unsorted probes
    // publish a comparison that must not drift on walker details.
    def scanRowsRead(q: DataFrame): Long = {
      q.queryExecution.toRdd.count()
      def leaf(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leaf(a.executedPlan)
        case other => other.collectLeaves().collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.getOrElse(-1L)
      }
      leaf(q.queryExecution.executedPlan)
    }

    def suite(tag: String, docs: DataFrame, vecs: DataFrame, ev: DataFrame,
              keep: Seq[DataFrame]) = {
      val obs = Parse.eventsAsObservations(ev)
      // shared batch/corpus split + persisted signature store for the two
      // incremental probes — one definition, so the marginal-screen vs
      // maintenance comparison BASELINE.md draws can't drift on setup
      def incrementalSetup(): (DataFrame, DataFrame, DataFrame) = {
        val batch = docs.filter(col("doc_id") % 97 === 0)
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        val corpusSig = Dedup.minhashSignature(corpus, 16)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        corpusSig.count()
        (batch, corpus, corpusSig)
      }
      val probes: Seq[(String, () => (String, Double, Long))] = Seq(
        "minhash_lsh" -> (() =>
          time(s"$tag/minhash_lsh")(Dedup.minhashLshPairs(docs).count())),
        // Times ONLY the marginal batch screen (~1% of docs against the
        // rest): the corpus signature store is materialized untimed first,
        // as it would be in deployment — that is the operator's point.
        "incremental_minhash" -> (() => {
          val (batch, _, corpusSig) = incrementalSetup()
          time(s"$tag/incremental_minhash")(
            Dedup.minhashLshPairsAgainst(batch, corpusSig).count())
        }),
        "simhash_pairs" -> (() =>
          time(s"$tag/simhash_pairs")(Dedup.simhashPairs(docs).count())),
        // incremental cluster maintenance: corpus state (components +
        // signature store) is materialized UNTIMED, as in deployment; the
        // timed section is one batch's pair discovery + the quotient
        // update — the recurring cost a streaming dedup pipeline pays
        "incremental_cc" -> (() => {
          val (batch, corpus, corpusSig) = incrementalSetup()
          val stored = Checkpoints.materialized(
            Dedup.minhashLshComponents(corpus, threshold = 0.5))
          time(s"$tag/incremental_cc")({
            val cross = Dedup.minhashLshPairsAgainst(batch, corpusSig, threshold = 0.5)
              .select(col("doc_new").as("doc_a"), col("doc_corpus").as("doc_b"))
            val internal = Dedup.minhashLshPairs(batch, threshold = 0.5)
              .select(col("doc_a"), col("doc_b"))
            Dedup.incrementalComponents(stored, cross.union(internal)).count()
          })
        }),
        // bloom-prescreened exact screen: times the marginal batch screen
        // like incremental_minhash — the store (and thus the bloom build
        // input) grows with the corpus while the batch stays ~1%; the
        // probe answers whether the one-row bloom aggregate over the
        // growing store stays cheap relative to the precise join
        "incremental_bloom" -> (() => {
          val batch = docs.filter(col("doc_id") % 97 === 0)
          val corpus = docs.filter(col("doc_id") % 97 =!= 0)
          val store = Dedup.exact(corpus)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          store.count()
          time(s"$tag/incremental_bloom")(
            Dedup.exactAgainstBloom(batch, store).count())
        }),
        "ngram_jaccard" -> (() =>
          time(s"$tag/ngram_jaccard")(Dedup.ngramJaccardPairs(docs, "lang", 0.5).count())),
        // The df-capped 100-TB shape: replica groups here are 100 deep, so
        // at 100× their shared shingles have df ≈ 100-200 and the uncapped
        // self-join's intermediate (L²/2 rows per shingle) exhausts local
        // disk. maxDf=64 classifies exactly those group-wide shingles as
        // boilerplate — pair discovery for deep duplicate groups is
        // minhash_lsh's job (composition order, Dedup.scala scaladoc).
        "ngram_jaccard_capped" -> (() =>
          time(s"$tag/ngram_jaccard_capped")(
            Dedup.ngramJaccardPairs(docs, "lang", 0.5, maxDf = 64).count())),
        "emb_neardup" -> (() =>
          time(s"$tag/emb_neardup")(EmbeddingSim.nearDupPairs(vecs, 0.45, planes = 4).count())),
        "hourly_rollup" -> (() =>
          time(s"$tag/hourly_rollup")(Rollup.hourly(obs, Seq("value")).count())),
        "forecast" -> (() =>
          time(s"$tag/forecast")(Forecast.linear(obs, 24, 12).count())),
        // simhashComponents (signature-contracted feed, fixpoint on rep-rep
        // edges only), matching what dd_cluster_canonical ships: at N× the
        // replica groups are N deep, so the contraction is exactly what
        // bounds the CC loop's input.
        "cc_canonical" -> (() =>
          time(s"$tag/cc_canonical")(
            Dedup.canonicalizeFrom(docs,
              Dedup.simhashComponents(docs, maxHamming = 3)).count())),
        "contamination" -> (() =>
          time(s"$tag/contamination")(
            Curation.contamination(docs, docs.filter(col("doc_id") % 97 === 0),
              minShared = 3, excludeSameId = true).count())),
        // the doc-level verdict over the same sweep: output bounded by
        // |docs| where the pair listing above is output-bound (quadratic
        // within replica groups)
        "contaminated_docs" -> (() =>
          time(s"$tag/contaminated_docs")(
            Curation.contaminatedDocs(docs, docs.filter(col("doc_id") % 97 === 0),
              minShared = 3, excludeSameId = true).count())),
        "pack_sequences" -> (() =>
          time(s"$tag/pack_sequences")(
            Packing.packSequences(docs, budget = 4096L).count())),
        // window-based event operators (union+window as-of, session_window):
        // replicas use fresh user_id key spaces, so per-key partition sizes
        // stay constant and these must scale ~linearly
        "asof_join" -> (() =>
          time(s"$tag/asof_join") {
            val views = Latest.keepFirst(obs.filter(col("code") === "view"),
              Seq("location", "event_timestamp"), Seq(col("event_id").desc))
            AsofJoin.leftAsof(obs.filter(col("code") === "purchase"), views,
              key = "location", ts = "event_timestamp",
              leftId = "event_id", rightId = "event_id").count()
          }),
        "sessionize" -> (() =>
          time(s"$tag/sessionize")(
            Sequences.sessionize(obs, gapMinutes = 480).count())),
        // hashed-TF cosine pairs, exact-fingerprint-contracted (the r9
        // rewrite): the uncontracted chain OOM'd at 100× (hash-map build
        // over the candidates×dims intermediate). With EXACTDUP=1 the
        // verify stage is bounded by distinct contents and the quadratic
        // part is the output expansion; without it (marker-prefix near
        // dups) nothing contracts and the listing is output-bound by
        // contract — both shapes worth measuring.
        "hashed_tf" -> (() =>
          time(s"$tag/hashed_tf")(
            Dedup.hashedTfCosinePairs(docs, threshold = 0.95).count())),
        // standalone minhash clustering vs the composed exact-first
        // pipeline on the SAME corpus — the composition-order contract's
        // measured claim (run with SPARK_GRAFT_PROBE_EXACTDUP=1 so replica
        // groups are byte-identical, the corpus shape the contract targets)
        "cluster_minhash" -> (() =>
          time(s"$tag/cluster_minhash")(
            Dedup.canonicalizeFrom(docs,
              Dedup.minhashLshComponents(docs, threshold = 0.5)).count())),
        "pipeline_canonical" -> (() =>
          time(s"$tag/pipeline_canonical")(
            Dedup.pipelineCanonical(docs, threshold = 0.5).count())),
        // union-feed CC (stars INSIDE the fixpoint) vs the contracted
        // cc_canonical above — the paired comparison BASELINE.md cites
        "cc_union_feed" -> (() =>
          time(s"$tag/cc_union_feed")(
            Dedup.canonicalizeFrom(docs,
              Dedup.connectedComponents(
                Dedup.simhashEdges(docs, maxHamming = 3))).count())),
        // the quality gate's SCALE path (mergeable percentile_approx
        // sketch, not the single-reducer exact percentile the oracle uses)
        "quality_filter_approx" -> (() =>
          time(s"$tag/quality_filter_approx")(
            graft.ops.TextStats.qualityPercentileFilter(
              docs, Seq("the", "a"), 0.75, exact = false).count())),
        // Budget apportionment: ONE token-count aggregate is the only
        // corpus-shaped work; the remainder window runs on |strata| rows.
        // A bare count() cannot eliminate it — the row count IS the
        // grouped-stratum count after the weight join
        "budget_alloc" -> (() =>
          time(s"$tag/budget_alloc")(
            Sampling.budgetAllocation(docs,
              Map("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L,
                "zh" -> 1L, "ja" -> 2L), totalBudget = 1000000L)
              .count())),
        "sample_mix" -> (() =>
          time(s"$tag/sample_mix")(
            Sampling.mixToWeights(docs, "lang", mixWeights).count())),
        "emb_neardup_auto" -> (() => {
          // end-to-end scale path: corpus size from parquet footers (multi-
          // file at N×), plane count derived, hamming-1 multi-probe blocking
          val path = writtenVecs(tag, vecs)
          time(s"$tag/emb_neardup_auto") {
            val onDisk = spark.read.parquet(path)
            val planes = EmbeddingSim.autoPlanes(Tables.parquetRowCount(spark, path))
            EmbeddingSim.nearDupPairs(onDisk, 0.45, planes = planes,
              probeHamming1 = true).count()
          }
        }),
        // Rademacher random projection: one narrow codegen pass, weights
        // are compile-time literals; the % 2 filter forces every dot
        "random_projection" -> (() =>
          time(s"$tag/random_projection")(
            EmbeddingSim.randomProjection(vecs, outDims = 8)
              .filter(col("rvalue") % 2 === 0L).count())),
        // RP prefilter + exact rerank: the all-pairs stage runs on 8-long
        // arrays (8x fewer multiply-adds than brute force, corpus resident
        // at 1/8 width); the 64-dim vectors are touched only for the
        // 40-candidate set per query. Query count pinned (~20 at every
        // factor) so the probe isolates per-query corpus linearity rather
        // than conflating it with query-throughput growth
        "rp_rerank" -> (() =>
          time(s"$tag/rp_rerank")(
            EmbeddingSim.rpRerankTopK(vecs,
              col("vec_id") % lit(100L * math.max(1, tag.takeWhile(_.isDigit).toInt)) === 0,
              k = 10, outDims = 8, overfetch = 4).count())),
        "kmeans_ivf" -> (() =>
          time(s"$tag/kmeans_ivf")(
            EmbeddingSim.kmeansCentroids(vecs, k = 8, iters = 2).count())),
        // flat vs hierarchical IVF at PRODUCTION cell growth (fineK ∝
        // corpus, constant cell population): flat assignment is n·fineK
        // distance evals, hierarchical is n·(coarseK + fineK/coarseK) with
        // coarseK ≈ √fineK — the pair of probes measures exactly that gap
        "ivf_topk_flat" -> (() =>
          time(s"$tag/ivf_topk_flat")(
            EmbeddingSim.ivfTopK(vecs, col("vec_id") % 100 === 0, 10,
              numCentroids = 16 * math.max(1, tag.takeWhile(_.isDigit).toInt),
              nprobe = 2).count())),
        "ivf_topk_hier" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/ivf_topk_hier")(
            EmbeddingSim.ivfHierTopK(vecs, col("vec_id") % 100 === 0, 10,
              fineK = 16 * f,
              coarseK = math.max(4, math.sqrt(16.0 * f).toInt),
              pcoarse = 2, nprobe = 2).count())
        }),
        // IVF-PQ with ADC scoring at the same production cell growth as
        // ivf_topk_flat (numCentroids ∝ corpus, constant cell population):
        // assignment is the min_by hash-aggregate path (no corpus-side
        // window), candidates score as m LUT lookups against PQ codes —
        // the probe answers whether ADC stays candidate-linear as cells
        // and corpus grow together
        "ivfpq_topk" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/ivfpq_topk")(
            EmbeddingSim.ivfPqTopK(vecs, col("vec_id") % 100 === 0, 10,
              numCentroids = 16 * f, nprobe = 2).count())
        }),
        // bulk IVF-PQ: same query set and cell growth as ivfpq_topk but
        // the LUT join pinned shuffled-hash (lutBroadcast = false) — the
        // probe pair measures what the broadcast actually buys, and that
        // the bulk path stays candidate-shaped when nothing query-sized
        // broadcasts
        "ivfpq_bulk" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/ivfpq_bulk")(
            EmbeddingSim.ivfPqTopK(vecs, col("vec_id") % 100 === 0, 10,
              numCentroids = 16 * f, nprobe = 2,
              lutBroadcast = false).count())
        }),
        // stored-index search: centroids + ivfIndex built UNTIMED (the
        // deployed-artifact convention); the timed section is one ~1%
        // batch's probe + cell-bounded scoring — must track the
        // incremental-family flat marginal-screen economics
        "ivf_against" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
          val batch = vecs.filter(col("vec_id") % 97 === 0)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(indexSide).orderBy(col("vec_id").asc)
              .limit(16 * f)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          val index = EmbeddingSim.ivfIndex(indexSide, cents)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          index.count()
          time(s"$tag/ivf_against")(
            EmbeddingSim.ivfSearchAgainst(batch, cents, index, k = 10,
              nprobe = 2).count())
        }),
        // STREAMING ANN index maintenance (stream_ivf_index_update
        // registry shape), staging untimed like the sketch-fold probes:
        // four micro-batch broadcast-K assignments + three store appends
        // + compaction (keepLast = 2). K follows the √n cell convention
        // (16·√f — cell count grows with corpus like the SemDeDup/IVF
        // geometry, NOT 16·f: flat n·K assignment is quadratic in f at
        // linear K and the first cut of this probe measured exactly that,
        // 581 s at f=100 — an index-GEOMETRY choice, not a fold cost).
        // Expected ≈ ivf_index_build at the same K (the assignment work
        // is identical, split in four) + the per-version store rewrite,
        // which is what compaction bounds.
        "stream_ivf_index_nostage" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val kCents = 16 * math.max(1, math.sqrt(f.toDouble).toInt)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(vecs).orderBy(col("vec_id").asc)
              .limit(kCents)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          val stages = (0 to 3).map(r =>
            vecs.filter(col("vec_id") % 4 === r)
              .select(col("vec_id"), col("embedding")))
          val storeDir = s"target/scaleprobe/ivf_store_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/ivf_stream_$tag")
          time(s"$tag/stream_ivf_index_nostage")({
            val q = graft.streaming.StreamOps.ivfIndexUpdateStream(in,
                cents, storeDir, compactKeepLast = 2)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
              .count()
          })
        }),
        // UPSERT/DELETE maintenance (stream_ivf_index_upsert registry
        // shape), staging untimed: three micro-batches — evens, odds +
        // %10 replacements, %7 deletes — anti-join ∪ upserts per fold.
        // Expected ≈ the append fold + the anti-join over store-sized
        // relations
        "stream_ivf_upsert_nostage" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val kCents = 16 * math.max(1, math.sqrt(f.toDouble).toInt)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(vecs).orderBy(col("vec_id").asc)
              .limit(kCents)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          def ups(df: DataFrame) = df.select(col("vec_id"),
            col("embedding"), lit("upsert").as("op"))
          val stages = Seq(
            ups(vecs.filter(col("vec_id") % 2 === 0)),
            ups(vecs.filter(col("vec_id") % 2 === 1)).unionByName(
              vecs.filter(col("vec_id") % 10 === 0)
                .select(col("vec_id"),
                  reverse(col("embedding")).as("embedding"),
                  lit("upsert").as("op"))),
            vecs.filter(col("vec_id") % 7 === 0)
              .select(col("vec_id"), col("embedding"),
                lit("delete").as("op")))
          val storeDir = s"target/scaleprobe/ivf_upsert_store_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/ivf_upsert_stream_$tag")
          time(s"$tag/stream_ivf_upsert_nostage")({
            val q = graft.streaming.StreamOps.ivfIndexUpsertStream(in,
                cents, storeDir, compactKeepLast = 1)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
              .count()
          })
        }),
        // the one-shot build the fold replaces, same √n geometry — the
        // maintenance loop's honest baseline: fold wall − build wall =
        // what streaming maintenance actually costs on top of the
        // assignment work any index build pays
        "ivf_index_build" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val kCents = 16 * math.max(1, math.sqrt(f.toDouble).toInt)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(vecs).orderBy(col("vec_id").asc)
              .limit(kCents)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          val outDir = s"target/scaleprobe/ivf_build_$tag"
          graft.streaming.Ingest.deleteRecursively(outDir)
          time(s"$tag/ivf_index_build")({
            EmbeddingSim.ivfIndex(vecs, cents)
              .write.mode("overwrite").parquet(outDir)
            spark.read.parquet(outDir).count()
          })
        }),
        // HIERARCHICAL stored-index search at LINEAR fineK = 16·f — the
        // K-tracks-corpus regime where the FLAT probe measured 581 s of
        // pure n·K assignment (r19's disclosed anti-lesson): coarseK =
        // 4√f ≈ √fineK, so the per-vector assignment cost is ~8√f
        // evaluations instead of 16f. Index built untimed (deployed
        // artifact); timed = one ~1% batch's two-level probe + cid
        // equi-join scoring.
        "ivf_hier_against" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val fineK = 16 * f
          val coarseK = 4 * math.max(1, math.sqrt(f.toDouble).toInt)
          val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
          val batch = vecs.filter(col("vec_id") % 97 === 0)
          val (coarse, fineT) = EmbeddingSim.hierCentroids(
            EmbeddingSim.prepared(indexSide), fineK, coarseK)
          val index = EmbeddingSim.ivfHierIndex(indexSide, coarse, fineT)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          index.count()
          time(s"$tag/ivf_hier_against")(
            EmbeddingSim.ivfHierSearchAgainst(batch, coarse, fineT, index,
              k = 10).count())
        }),
        // one-shot HIER index build at the same linear-K geometry — the
        // build the streaming fold replaces AND the direct comparison
        // against the flat ivf_index_build/581 s linear-K anti-lesson
        "ivf_hier_index_build" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val fineK = 16 * f
          val coarseK = 4 * math.max(1, math.sqrt(f.toDouble).toInt)
          val (coarse, fineT) = EmbeddingSim.hierCentroids(
            EmbeddingSim.prepared(vecs), fineK, coarseK)
          val outDir = s"target/scaleprobe/ivf_hier_build_$tag"
          graft.streaming.Ingest.deleteRecursively(outDir)
          time(s"$tag/ivf_hier_index_build")({
            EmbeddingSim.ivfHierIndex(vecs, coarse, fineT)
              .write.mode("overwrite").parquet(outDir)
            spark.read.parquet(outDir).count()
          })
        }),
        // STREAMING maintenance of the HIER index at the same LINEAR
        // fineK — the r19 verdict's "delete the n·K term from the
        // maintenance loop" probe: four micro-batch two-level
        // assignments + store appends + compaction. The flat fold at
        // this geometry is the 581 s cliff; this fold's assignment term
        // is batch·8√f.
        "stream_ivf_hier_nostage" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val fineK = 16 * f
          val coarseK = 4 * math.max(1, math.sqrt(f.toDouble).toInt)
          val (coarse, fineT) = EmbeddingSim.hierCentroids(
            EmbeddingSim.prepared(vecs), fineK, coarseK)
          val stages = (0 to 3).map(r =>
            vecs.filter(col("vec_id") % 4 === r)
              .select(col("vec_id"), col("embedding")))
          val storeDir = s"target/scaleprobe/ivf_hier_store_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/ivf_hier_stream_$tag")
          time(s"$tag/stream_ivf_hier_nostage")({
            val q = graft.streaming.StreamOps.ivfHierIndexUpdateStream(in,
                coarse, fineT, storeDir, compactKeepLast = 2)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
              .count()
          })
        }),
        // fingerprint-store UPSERT/DELETE maintenance
        // (stream_dedup_upsert registry shape), staging untimed: three
        // micro-batches — evens, odds + %10 replacements, %7 deletes.
        // Per fold: batch-shaped md5 pass + store-sized anti-join ∪
        // upserts — the recurring retraction cost a compliant pipeline
        // pays
        "stream_fp_upsert_nostage" -> (() => {
          def ups(df: DataFrame) = df.select(col("doc_id"), col("text"),
            lit("upsert").as("op"))
          val stages = Seq(
            ups(docs.filter(col("doc_id") % 2 === 0)),
            ups(docs.filter(col("doc_id") % 2 === 1)).unionByName(
              docs.filter(col("doc_id") % 10 === 0)
                .select(col("doc_id"),
                  concat(col("text"), lit(" r")).as("text"),
                  lit("upsert").as("op"))),
            docs.filter(col("doc_id") % 7 === 0)
              .select(col("doc_id"), col("text"), lit("delete").as("op")))
          val storeDir = s"target/scaleprobe/fp_upsert_store_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/fp_upsert_stream_$tag")
          time(s"$tag/stream_fp_upsert_nostage")({
            val q = graft.streaming.StreamOps.fingerprintUpsertStream(in,
                storeDir, compactKeepLast = 1)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
              .count()
          })
        }),
        // trained language-ID, corpus-shaped TRAINING pass (one feature
        // explode + three combinable aggregates)
        "lang_id_train" -> (() => {
          val seed = docs.filter(col("doc_id") % 3 =!= 0 &&
            col("text").isNotNull && col("lang").isNotNull)
          time(s"$tag/lang_id_train")(TextStats.langIdTrain(seed).count())
        }),
        // frozen-weights classification of the held-out third — the
        // recurring deployment cost (model materialized untimed)
        "lang_id_against" -> (() => {
          val seed = docs.filter(col("doc_id") % 3 =!= 0 &&
            col("text").isNotNull && col("lang").isNotNull)
          val batch = docs.filter(col("doc_id") % 3 === 0 &&
            col("text").isNotNull)
          val model = Checkpoints.materialized(TextStats.langIdTrain(seed))
          time(s"$tag/lang_id_against")(
            TextStats.langIdAgainst(batch, model).count())
        }),
        // drift monitoring: the stored index and the training snapshot
        // exist (untimed, deployed artifacts); timed = one ivfCellStats
        // pass over the store + the K-row report — the recurring
        // monitoring cost, which must stay index-scan-shaped
        "index_drift" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val kCents = 16 * math.max(1, math.sqrt(f.toDouble).toInt)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(vecs).orderBy(col("vec_id").asc)
              .limit(kCents)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          val index = EmbeddingSim.ivfIndex(vecs, cents)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          index.count()
          val trainStats = Checkpoints.materialized(
            EmbeddingSim.ivfCellStats(index, cents))
          time(s"$tag/index_drift")(
            EmbeddingSim.ivfDriftReport(
              EmbeddingSim.ivfCellStats(index, cents), trainStats).count())
        }),
        // FILE-level min-max skipping, rows-read evidence at scale: the
        // range-clustered layout is written untimed (the once-at-write
        // price); timed = a 0.5%-band scan whose returned "rows" IS the
        // scan's numOutputRows — rows actually read after footer-stats
        // row-group pruning. Compare against scan_unsorted's full read.
        "scan_sorted" -> (() => {
          val path = s"target/scaleprobe/sorted_$tag"
          graft.sources.FileIO.writeSorted(
            ev.select(col("event_id"), col("value")), path, "event_id",
            rangePartitions = 32, maxRecordsPerFile = 500000)
          val total = ev.count()
          val lo = (total * 49L) / 100; val hi = lo + total / 200
          time(s"$tag/scan_sorted")({
            scanRowsRead(spark.read.parquet(path)
              .filter(col("event_id") >= lo && col("event_id") < hi))
          })
        }),
        "scan_unsorted" -> (() => {
          val path = s"target/scaleprobe/unsorted_$tag"
          // hash-scramble WITHIN files too (review r20, twice): plain
          // repartition(32) preserved replica locality (file-level stats
          // skipped 94%), and hash-repartition alone still left rows
          // id-ascending INSIDE each file (input order survives the
          // shuffle), so parquet's page-level column-index pruning kept
          // skipping. The honest no-stats baseline needs disorder at
          // every granularity: hash-partition AND hash-sort within
          // partitions, so neither row-group nor page min/max can
          // exclude anything.
          ev.select(col("event_id"), col("value"))
            .withColumn("__h", fastMd5(col("event_id").cast("string")))
            .repartition(32, col("__h"))
            .sortWithinPartitions(col("__h"))
            .drop("__h")
            .write.mode("overwrite").option("maxRecordsPerFile", 500000)
            .parquet(path)
          val total = ev.count()
          val lo = (total * 49L) / 100; val hi = lo + total / 200
          time(s"$tag/scan_unsorted")({
            scanRowsRead(spark.read.parquet(path)
              .filter(col("event_id") >= lo && col("event_id") < hi))
          })
        }),
        // stored COMPRESSED-index search: centroids + codebooks + the
        // (cid, sub, code) ivfPqIndex built untimed (deployed artifacts);
        // the timed section is one ~1% batch's probe + LUT + ADC over
        // index CODES only — the incremental-family flat marginal
        // economics with the PQ memory story on top
        "ivfpq_against" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
          val batch = vecs.filter(col("vec_id") % 97 === 0)
          val cents = Checkpoints.materialized(
            EmbeddingSim.prepared(indexSide).orderBy(col("vec_id").asc)
              .limit(16 * f)
              .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("n2").as("cn2")))
          val books = Checkpoints.materialized(
            EmbeddingSim.pqCodebooks(indexSide, 4, 4, iters = 1))
          val index = EmbeddingSim.ivfPqIndex(indexSide, cents, books)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          index.count()
          time(s"$tag/ivfpq_against")(
            EmbeddingSim.ivfPqSearchAgainst(batch, cents, books, index,
              k = 10, nprobe = 2).count())
        }),
        // IVF-PQ over HIERARCHICAL assignment at the same production cell
        // growth: the probe pair (ivfpq_topk vs this) isolates the flat
        // n·K assignment term the composition deletes — everything else
        // (encode, LUT, ADC) is identical; expected = hier assignment
        // (the ivf_topk_hier class) + the corpus-linear encode increment
        "ivfpq_hier" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/ivfpq_hier")(
            EmbeddingSim.ivfPqHierTopK(vecs, col("vec_id") % 100 === 0, 10,
              fineK = 16 * f,
              coarseK = math.max(4, math.sqrt(16.0 * f).toInt),
              pcoarse = 2, nprobe = 2).count())
        }),
        // ivfpq_hier DECOMPOSITION (the r15 ~20 s attribution-gap item):
        // the two named cost terms probed in isolation at the same
        // production growth — full ≈ assign + encode + (probe/LUT/ADC,
        // candidate-shaped). Whatever the subtraction leaves over is the
        // gap to name or retract.
        "ivfpq_hier_assign" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/ivfpq_hier_assign")(
            EmbeddingSim.hierCells(vecs, fineK = 16 * f,
              coarseK = math.max(4, math.sqrt(16.0 * f).toInt)).count())
        }),
        "ivfpq_hier_encode" -> (() =>
          time(s"$tag/ivfpq_hier_encode")(
            EmbeddingSim.pqEncode(vecs,
              EmbeddingSim.pqCodebooks(vecs, 4, 4, iters = 1)).count())),
        // embedding classification trio (r15 wave) 100× rows:
        // prototypes are |labels|-row broadcast + one min_by pass over the
        // corpus — expected corpus-linear, kmeans-assignment class
        "proto_classify" -> (() =>
          time(s"$tag/proto_classify")(
            EmbeddingSim.prototypeClassify(vecs,
              EmbeddingSim.labelPrototypes(vecs)).count())),
        // knn vote over the brute default retriever — expected brute_topk
        // class (all corpus-shaped work lives in the pluggable neighbor
        // seam; the vote itself is |q|·k-bounded)
        "knn_classify" -> (() =>
          time(s"$tag/knn_classify")(
            EmbeddingSim.knnClassify(vecs, col("vec_id") % 100 === 0,
              k = 10).count())),
        // brute hard negatives, bounded-top-k form (the rpRerank rewrite):
        // |q|×corpus scoring collapses into ≤k buffers per (partition,
        // query) — expected brute class WITHOUT the rank-window sort cap
        "hard_negatives" -> (() =>
          time(s"$tag/hard_negatives")(
            EmbeddingSim.hardNegatives(vecs, col("vec_id") % 100 === 0,
              k = 5).count())),
        // hard negatives through the IVF candidate seam at production cell
        // growth — the candidate-shaped configuration; expected ivf_topk
        // class
        "hard_negatives_ivf" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/hard_negatives_ivf")(
            EmbeddingSim.hardNegatives(vecs, col("vec_id") % 100 === 0,
              k = 5, candidates = Some(EmbeddingSim.ivfCandidates(vecs,
                col("vec_id") % 100 === 0, numCentroids = 16 * f,
                nprobe = 2))).count())
        }),
        // the hier-fed seam at the same production growth: deletes the
        // flat n·K candidate-generation term the flat-fed probe carries —
        // expected ivf_topk_hier class, the probe pair (flat vs this)
        // isolates the assignment term inside the SEAM family
        "hard_negatives_hier" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/hard_negatives_hier")(
            EmbeddingSim.hardNegatives(vecs, col("vec_id") % 100 === 0,
              k = 5, candidates = Some(EmbeddingSim.hierCandidates(vecs,
                col("vec_id") % 100 === 0, fineK = 16 * f,
                coarseK = math.max(4, math.sqrt(16.0 * f).toInt),
                pcoarse = 2, nprobe = 2))).count())
        }),
        // the mm_image_stats hot path: per-doc PNG deflate (real ImageIO
        // writer) + inflate + RGB-normalized feature reduce — all narrow
        // per-row codec work in batched mapPartitions, expected ~linear
        "image_codec" -> (() =>
          time(s"$tag/image_codec")(
            graft.ops.Multimodal.extractFeatures(
              graft.ops.Multimodal.asImagePng(docs)).count())),
        // the distributed dense rank: one shuffle on the bucket key + an
        // O(buckets) offset window — must scale like any single shuffle
        "epoch_order" -> (() =>
          time(s"$tag/epoch_order")(
            Packing.epochOrder(docs, epoch = 3).count())),
        // sub-document segment dedup: replicas share every post-marker
        // segment, so postings are N deep at N× — the min-struct
        // hash-aggregate must keep that a combiner pass, not a sort. The
        // length() filter forces clean_text (a bare count could prune the
        // reassembly collect_list out of the aggregate).
        "segment_dedup" -> (() =>
          time(s"$tag/segment_dedup")(
            Dedup.segmentDedup(docs, segTokens = 10)
              .filter(length(col("clean_text")) >= 0).count())),
        // duplicated-span coverage: positional explode + df hash-agg +
        // join-back — replicas put every post-marker span at df ≈ N, so
        // this checks the O(positions) join-back really is posting-depth-
        // linear (the df relation itself contracts to distinct spans)
        "span_coverage" -> (() =>
          time(s"$tag/span_coverage")(
            Dedup.spanCoverage(docs, n = 5)
              .filter(col("coverage") >= 0.0).count())),
        // maximal duplicated runs: span_coverage's front half + a per-doc
        // island window — replicas make every post-marker position dup,
        // so runs are long and few (run relation ≈ docs, not positions)
        "dup_runs" -> (() =>
          time(s"$tag/dup_runs")(
            Dedup.dupRuns(docs, n = 5)
              .filter(col("dup_tokens") >= 0L).count())),
        // winnowing: per-doc frame min (one keyed window) + df-capped
        // posting join on the ~2/(w+1)-density selected prints — replica
        // groups share every print, so the cap is what bounds the join
        "winnow_pairs" -> (() =>
          time(s"$tag/winnow_pairs")(
            Dedup.winnowPairs(docs, maxDf = 64).count())),
        // perceptual image hash: per-doc PNG encode+decode dominates (the
        // mm_image_stats codec-envelope class, linear); the band join's
        // OUTPUT is pair-bound — replica groups at N× share near-identical
        // grids, the same listing-contract growth simhash_pairs has
        "image_phash" -> (() =>
          time(s"$tag/image_phash")(
            Dedup.imageHashPairs(
              Multimodal.imageDHash(Multimodal.asImageGridPng(docs)).toDF())
              .count())),
        // audio envelope fingerprint: per-doc wav encode+decode dominates
        // (linear, the codec-envelope class); band-join output pair-bound
        // like image_phash
        "audio_fingerprint" -> (() =>
          time(s"$tag/audio_fingerprint")(
            Dedup.imageHashPairs(
              Multimodal.audioDHash(Multimodal.asAudio(docs)).toDF(),
              maxHamming = 16).count())),
        // bigram LM: two corpus-shaped passes + vocabulary-shaped model
        // joins (replication grows counts, vocab stays ~flat) — ~linear
        // forcing note (round-14 correction): `ppx_keep >= 0` was the
        // strip_markup trap in a second costume — ppx_keep is cast(boolean
        // as long), so Catalyst folds the predicate to TRUE, and the
        // then-unreferenced unique-key left join is ELIMINATED outright:
        // the r12 "0.9 s flat" row timed a bare doc count. `% 2` on the
        // integer score is not foldable and keeps the join live
        "ngram_lm_ppx" -> (() =>
          time(s"$tag/ngram_lm_ppx")(
            graft.ops.TextStats.ngramLmPerplexity(docs)
              .filter(col("avg_bits_x100") % 2 === 0L).count())),
        // markup strip: one narrow codegen regex/replace chain, no shuffle
        // — the linearity floor every probe band is read against. The
        // filter forces is_content (⇒ raw_len/text_len ⇒ the whole regex
        // chain): a bare count() lets ColumnPruning delete the projection
        // and times an empty scan (first probe run measured 0.2 s flat —
        // bogus).
        "strip_markup" -> (() =>
          time(s"$tag/strip_markup")(
            Curation.stripMarkup(
              docs.select(col("doc_id"), col("text").as("html")))
              .filter(col("is_content") >= 0L && length(col("text")) >= 0)
              .count())),
        // per-doc keyword argmax: token explode + two hash-aggs + a term
        // join — posting depth (replicated docs share their vocabulary)
        // lands in the df aggregate's combiner, never a per-doc window
        "doc_keyword" -> (() =>
          time(s"$tag/doc_keyword")(
            graft.ops.TextStats.docKeyword(docs, Seq("the", "a"))
              .filter(length(col("term")) >= 0).count())),
        // SemDeDup: k-means cells + within-cell a<b cosine dominance. The
        // pair join is n²/k on balanced cells, so k must GROW with the
        // corpus — the probe scales k with the factor exactly as a
        // production run would (SemDeDup uses ~100k cells at web scale),
        // keeping expected cell population constant.
        "semantic_dedup" -> (() =>
          time(s"$tag/semantic_dedup")(
            EmbeddingSim.semanticDedup(vecs,
              numCentroids = 8 * math.max(1, tag.takeWhile(_.isDigit).toInt), iters = 2,
              threshold = 0.45).count())),
        // the sampled-training scale configuration: centroids learned on a
        // 10% hash-sample, full corpus only pays the single assignment pass
        // (each Lloyd round is n·k·d; with k ∝ corpus that's the dominant
        // quadratic term — see semanticDedup's trainSample scaladoc)
        "semantic_dedup_sampled" -> (() =>
          time(s"$tag/semantic_dedup_sampled")(
            EmbeddingSim.semanticDedup(vecs,
              numCentroids = 8 * math.max(1, tag.takeWhile(_.isDigit).toInt), iters = 2,
              threshold = 0.45, trainSample = 0.1).count())),
        // hierarchical assignment on top of sampled training: the corpus
        // pays 2·√k distance evals instead of k — the remaining n·k term
        // semantic_dedup_sampled's scaladoc flags as the next bottleneck
        "semantic_dedup_hier" -> (() => {
          val k = 8 * math.max(1, tag.takeWhile(_.isDigit).toInt)
          time(s"$tag/semantic_dedup_hier")(
            EmbeddingSim.semanticDedupHier(vecs, numCentroids = k, iters = 2,
              threshold = 0.45, coarseK = math.max(2, math.sqrt(k.toDouble).toInt),
              trainSample = 0.1).count())
        }),
        // incremental semantic screen: centroids (10% hash-sample training,
        // the semantic_dedup_sampled configuration) + survivor store are
        // materialized UNTIMED, as a deployment would (incremental_minhash's
        // convention); the timed section is one ~1% batch's assignment +
        // survivor-cell dominance join — the batch·cell-depth economics
        // semanticDedupAgainst's scaladoc claims
        "incremental_semantic" -> (() => {
          val f = math.max(1, tag.takeWhile(_.isDigit).toInt)
          val batch = vecs.filter(col("vec_id") % 97 === 0)
          val corpus = vecs.filter(col("vec_id") % 97 =!= 0)
          val trainSet = corpus.filter(Sampling.hashKey(col("vec_id")) <
            lit((0.1 * 4294967296.0).toLong))
          val cents = Checkpoints.materialized(
            EmbeddingSim.kmeansCentroids(trainSet, 8 * f, iters = 2))
          val surv = EmbeddingSim.semanticSurvivors(corpus, cents,
              threshold = 0.45)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          surv.count()
          time(s"$tag/incremental_semantic")(
            EmbeddingSim.semanticDedupAgainst(batch, cents, surv,
              threshold = 0.45).count())
        }),
        // integer-perceptron quality trainer: the feature relation is the
        // one corpus-shaped input (persisted DISK_ONLY inside the trainer);
        // each of the fixed rounds is two hash-aggregates over it plus a
        // dims-row weight join — the probe answers whether per-round cost
        // is feature-relation-linear with no per-round corpus re-derivation
        "quality_model_trained" -> (() =>
          time(s"$tag/quality_model_trained")({
            val t = graft.ops.TextStats.tokens(col("text"))
            val labeled = docs.select(col("doc_id"), col("text"),
              when(size(array_distinct(t)) * 2 >= size(t), 1L)
                .otherwise(-1L).as("y"))
            graft.ops.TextStats.qualityModelTrain(labeled, dims = 64,
              iters = 3).count()
          })),
        // Frozen-weights quality scoring (same convention): weights train
        // UNTIMED on the 1× sliver (3 perceptron rounds); the timed 100×
        // scoring is one feature explode + a dims-row broadcast join +
        // one per-doc aggregate — the trainer's margin pass run once
        "quality_score_against" -> (() => {
          val t = graft.ops.TextStats.tokens(col("text"))
          val labeled = docs.filter(col("doc_id") < docBase)
            .select(col("doc_id"), col("text"),
              when(size(array_distinct(t)) * 2 >= size(t), 1L)
                .otherwise(-1L).as("y"))
          val w = graft.ops.TextStats.qualityModelTrain(labeled, dims = 64,
              iters = 3)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          w.count()
          time(s"$tag/quality_score_against")(
            graft.ops.TextStats.qualityScoreAgainst(docs, w)
              .filter(col("margin") % 2 === 0L).count())
        }),
        // Frozen-models curation pipeline (the t_pipeline_frozen
        // composition): BOTH artifacts (bigram LM, perceptron weights)
        // train UNTIMED on the fixed 1× sliver; the timed section is the
        // full-corpus gate cascade (gopher → frozen ppx → frozen quality)
        // + exact dedup among the gate-passers. The % 2 filter on the
        // 0/1 verdict selects the rejected rows — not constant-foldable,
        // forces every gate and the dedup join
        "pipeline_frozen" -> (() => {
          val seed = docs.filter(col("doc_id") < docBase)
          val lm = graft.ops.TextStats.ngramLmModel(seed)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          lm.count()
          val t = graft.ops.TextStats.tokens(col("text"))
          val w = graft.ops.TextStats.qualityModelTrain(
              seed.select(col("doc_id"), col("text"),
                when(size(array_distinct(t)) * 2 >= size(t), 1L)
                  .otherwise(-1L).as("y")), dims = 64, iters = 3)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          w.count()
          time(s"$tag/pipeline_frozen")({
            val gop = graft.ops.TextStats.gopherRules(docs, Seq("the", "a"),
                minWords = 40)
              .select(col("doc_id"), col("is_keep").as("gopher_keep"))
            val ppx = graft.ops.TextStats.ngramPerplexityAgainst(docs, lm)
              .select(col("doc_id"), col("ppx_keep"))
            val qual = graft.ops.TextStats.qualityScoreAgainst(docs, w)
              .select(col("doc_id"), col("q_keep"))
            val gated = docs.select(col("doc_id"), col("text"))
              .join(gop, "doc_id").join(ppx, "doc_id").join(qual, "doc_id")
              .withColumn("gates_pass",
                (col("gopher_keep") === 1L && col("ppx_keep") === 1L &&
                  col("q_keep") === 1L).cast("long"))
            val canon = Dedup.exact(gated.filter(col("gates_pass") === 1L))
              .select(col("canonical_id").as("doc_id"), lit(1L).as("__c"))
            gated.join(canon, Seq("doc_id"), "left")
              .select(col("doc_id"),
                (col("gates_pass") === 1L &&
                  coalesce(col("__c"), lit(0L)) === 1L)
                  .cast("long").as("final_keep"))
              .filter(col("final_keep") % 2 === 0L).count()
          })
        }),
        // CCNet ppx-buckets: the LM model relation is vocabulary-shaped and
        // the tertile derivation runs on the (lang, score) histogram — the
        // probe answers whether the corpus-shaped cost is just the two LM
        // passes (per-doc flat) with no corpus-sized sort at any factor;
        // counting the kept rows forces the gate, the bucket join and the
        // full scoring chain (the strip_markup pruning lesson)
        "ppx_buckets" -> (() =>
          time(s"$tag/ppx_buckets")(
            Sampling.ppxBuckets(docs, keepPpm = Seq(1000000L, 500000L, 0L))
              .filter(col("is_keep") === 1L).count())),
        // Frozen-model scoring (the CCNet deployment shape): the LM trains
        // UNTIMED on the fixed 1× sliver (ids < docBase — the curated seed
        // stays the same size while the scored corpus grows) and persists
        // like a deployed artifact; the timed section scores the FULL
        // scaled corpus against it — per-doc bigram count + ONE
        // vocabulary-shaped model join, so the probe answers whether the
        // scoring leg is corpus-linear with a flat model. The % 2 forcing
        // on the integer score keeps the model join live (the ngram_lm_ppx
        // join-elimination lesson)
        "ppx_against" -> (() => {
          val model = graft.ops.TextStats.ngramLmModel(
              docs.filter(col("doc_id") < docBase))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          model.count()
          time(s"$tag/ppx_against")(
            graft.ops.TextStats.ngramPerplexityAgainst(docs, model)
              .filter(col("avg_bits_x100") % 2 === 0L).count())
        }),
        // DSIR: model = ONE conditional-sum hash-aggregate down to 256
        // rows; scoring = feature explode + broadcast verdict join + one
        // combinable per-doc aggregate; selection = TakeOrdered. Counting
        // the top-k still forces the whole weight computation
        "dsir" -> (() =>
          time(s"$tag/dsir")(
            graft.ops.TextStats.dsirWeights(docs, col("source") === "src0",
              buckets = 256, topK = 100).count())),
        // Frozen-tokenizer encode (the ppx_against convention: the model
        // trains UNTIMED on the fixed 1× sliver; the timed section
        // encodes the FULL scaled corpus against it — one (doc, word)
        // shuffle + a distinct-batch-words Viterbi, no trainer lineage).
        // Summing n_tokens forces the Viterbi join-back per doc
        "unigram_encode_against" -> (() => {
          val model = graft.ops.TextStats.unigramVocabModel(
              docs.filter(col("doc_id") < docBase))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          model.count()
          time(s"$tag/unigram_encode_against")(
            graft.ops.TextStats.unigramEncodeAgainst(docs, model)
              .filter(col("n_tokens") % 2 === 0L).count())
        }),
        // Frozen-merges BPE encode (same convention): model trained
        // UNTIMED on the 1× sliver; the timed 100× encode is one
        // (doc, word) shuffle + 8 broadcast merge applications over the
        // distinct batch words + the word-key join-back
        "bpe_encode_against" -> (() => {
          val model = graft.ops.TextStats.bpeMergesModel(
              docs.filter(col("doc_id") < docBase))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          model.count()
          time(s"$tag/bpe_encode_against")(
            graft.ops.TextStats.bpeEncodeAgainst(docs, model)
              .filter(col("n_tokens") % 2 === 0L).count())
        }),
        // Unigram-LM trainer: ONE corpus pass (distinct-word frequencies),
        // then Bellman-Ford sweeps over the O(words × maxWordLen) state
        // relation — replication grows word counts, not the distinct-word
        // table (the bpe_encode flat-vocab argument), so the probe answers
        // whether the sweeps stay corpus-independent
        "unigram_vocab" -> (() =>
          time(s"$tag/unigram_vocab")(
            graft.ops.TextStats.unigramLmVocab(docs,
              keepSchedule = Seq(60, 40), maxPieceLen = 4, maxWordLen = 10,
              minSeedFreq = 2L, seedMax = 150).count())),
        // Unigram encode: the train loop above plus the two corpus-shaped
        // legs — the (doc, word) count shuffle and the final word-key join
        "unigram_encode" -> (() =>
          time(s"$tag/unigram_encode")(
            graft.ops.TextStats.unigramEncode(docs,
              keepSchedule = Seq(60, 40), maxPieceLen = 4, maxWordLen = 10,
              minSeedFreq = 2L, seedMax = 150).count())),
        // Greedy k-center: k rounds × (one corpus pass folding the new
        // center into the running min-d² + a TakeOrdered(1) argmax) —
        // expected ~linear in corpus with flat round count
        "kcenter" -> (() =>
          time(s"$tag/kcenter")(
            EmbeddingSim.kCenterSelect(vecs, k = 8).count())),
        // BPE train+encode: the corpus passes are the (doc, word) count and
        // the final word-key join; the merge fixpoint runs on the vocab
        // (replication grows word COUNTS, and the marker jitter adds only
        // n distinct "r<i>" words — vocab stays ~flat by design)
        "bpe_encode" -> (() =>
          time(s"$tag/bpe_encode")(
            graft.ops.TextStats.bpeEncode(docs, numMerges = 8)
              .filter(col("n_tokens") >= 0).count())),
        // hashed-feature linear quality model: explode + two hash-aggs + a
        // broadcast-sized weight join — should be ~linear
        // forcing note (round-14 correction): raw_score is coalesce(...) ⇒
        // non-nullable ⇒ `isNotNull` folds to TRUE ⇒ the unique-key left
        // join is eliminated and the old row timed a doc count. `% 2` keeps
        // the scoring join live
        "quality_model" -> (() =>
          time(s"$tag/quality_model")(
            graft.ops.TextStats.qualityModelScore(docs)
              .filter(col("raw_score") % 2 === 0L).count())),
        // decontamination against a doc_id%97 benchmark sliver that
        // replicates WITH the corpus — both join sides grow N×, so work
        // grows ~N²: a stress shape, NOT the deployment shape
        "decontaminated" -> (() =>
          time(s"$tag/decontaminated")(
            graft.ops.Curation.decontaminated(docs,
              docs.filter(col("doc_id") % 97 === 0),
              minShared = 3, excludeSameId = true).count())),
        // the deployment shape: benchmark set FIXED at the 1x sliver
        // (replica-0 ids only) while the corpus grows N× — this is the
        // ratio a real pipeline sees (benchmarks don't grow with the crawl)
        "decontaminated_fixed" -> (() =>
          time(s"$tag/decontaminated_fixed")(
            graft.ops.Curation.decontaminated(docs,
              docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < docBase),
              minShared = 3, excludeSameId = true).count())),
        // windowed co-occurrence: tokens × window pair explode + one
        // map-side-combining count; TakeOrdered(50) — never a full sort
        "window_cooc" -> (() =>
          time(s"$tag/window_cooc")(
            graft.ops.TextStats.windowCooc(docs, window = 3, topK = 50)
              .count())),
        // containment (capped): same posting-list self-join economics as
        // ngram_jaccard_capped — maxDf bounds the intermediate at df²/2
        // per shingle, which replica groups of N would otherwise square
        "containment_capped" -> (() =>
          time(s"$tag/containment_capped")(
            Dedup.containmentPairs(docs, "lang", threshold = 0.6, maxDf = 64)
              .count())),
        // collocations: windowCooc pair counts + vocab-sized unigram joins
        "collocations" -> (() =>
          time(s"$tag/collocations")(
            graft.ops.TextStats.collocations(docs, window = 3, minCount = 5,
              topK = 50).count())),
        // boolean retrieval: one corpus tokenize + broadcast query pruning
        "boolean_retrieval" -> (() =>
          time(s"$tag/boolean_retrieval")(
            graft.ops.Retrieval.booleanRetrieval(docs, Seq(
              (1L, Seq("hash", "join")), (2L, Seq("sort", "merge", "join")),
              (3L, Seq("stream", "window")), (4L, Seq("dup"))), k = 10)
              .count())),
        // hybrid recall-then-rerank: stage 1 is bm25's posting-pruned
        // corpus pass; stage 2 joins the |q|·recallN candidate broadcast
        // against the embedding corpus — the probe answers whether the
        // dense stage stays candidate-shaped while BOTH corpora grow
        // (vec ids top out below doc ids at N×, so high-id candidates
        // drop through the inner join — the partially-embedded-corpus
        // path — while the timed plan shape is unchanged)
        "hybrid_retrieval" -> (() =>
          time(s"$tag/hybrid_retrieval")(
            graft.ops.Retrieval.hybridRetrieval(docs, vecs, Seq(
              (1L, Seq("hash", "join")), (2L, Seq("sort", "merge", "join")),
              (3L, Seq("stream", "window")), (4L, Seq("dup"))),
              recallN = 25, k = 10).count())),
        // RRF: the fusion join is |q|·depth-bounded; the corpus-shaped
        // work is the two independent retrievers (bm25 explode + the
        // brute dense scan) — the probe answers whether fusion adds
        // anything corpus-shaped on top of them
        "rrf_fusion" -> (() =>
          time(s"$tag/rrf_fusion")(
            graft.ops.Retrieval.rrfFusion(docs, vecs, Seq(
              (1L, Seq("hash", "join")), (2L, Seq("sort", "merge", "join")),
              (3L, Seq("stream", "window")), (4L, Seq("dup"))),
              k = 10, lexDepth = 25, denseDepth = 25).count())),
        // RRF with the IVF dense seam (the t_rrf_fusion_ivf configuration):
        // centroids train UNTIMED (a deployed artifact, the ppx_against
        // convention); the timed section swaps the brute dense scan for
        // the cell-assignment + nprobe-probe plan — the probe answers
        // whether the dense leg's corpus cost drops below brute while
        // the fusion join stays |q|·depth-bounded
        "rrf_fusion_ivf" -> (() => {
          val cents = Checkpoints.materialized(
            EmbeddingSim.kmeansCentroids(vecs, k = 8, iters = 2))
          time(s"$tag/rrf_fusion_ivf")({
            val dense = EmbeddingSim.ivfTopK(vecs,
              col("vec_id").isin(1L, 2L, 3L, 4L), k = 25, nprobe = 2,
              centroids = Some(cents))
            graft.ops.Retrieval.rrfFusion(docs, vecs, Seq(
              (1L, Seq("hash", "join")), (2L, Seq("sort", "merge", "join")),
              (3L, Seq("stream", "window")), (4L, Seq("dup"))),
              k = 10, lexDepth = 25, denseDepth = 25,
              denseList = Some(dense)).count()
          })
        }),
        // alert classification: one (location, code)-keyed rank-1 window
        // + a broadcast threshold join + a narrow when-chain projection —
        // the latest_per_key cost class; the filter forces the CASE and
        // the conversion arithmetic (data-dependent, not foldable)
        "alert_levels" -> (() =>
          time(s"$tag/alert_levels")(
            graft.ops.Alerts.alertLevels(obs, Seq(
              ("click", 0.0, 35.0, "cold_alert", "heat_alert"),
              ("view", 30.0, 80.0, "dry_alert", "humid_alert"),
              ("purchase", 0.0, 5.0, "low_alert", "rain_alert"),
              ("error", 25.0, 300.0, "cold_alert", "overload_alert"),
              ("signup", 10.0, 200.0, "low_alert", "surge_alert")))
              .filter(length(col("alert_level")) >= 0 &&
                col("value_f") + col("value_k") > -1.0e300).count())),
        // cross-location comparison: one location-keyed rank-1 window over
        // the corpus, then rank/median windows on the |locations|-row
        // latest relation (the operator's contract — the reference sorts
        // that list) + two 1-row broadcast folds; the filter forces the
        // stats columns through the crossJoins
        "location_compare" -> (() =>
          time(s"$tag/location_compare")(
            graft.ops.Alerts.compareLocations(obs, "click")
              .filter(col("median_v") + col("avg_v") > -1.0e300).count())),
        // the streaming exact screen END-TO-END (file source → stream-
        // static fingerprint join → memory sink, AvailableNow): store
        // built UNTIMED as deployed; the timed section is the ~1% batch
        // arriving as a stream — must track incremental_exact's flat
        // marginal-screen economics plus fixed micro-batch overhead
        "stream_exact_screen" -> (() => {
          val path = s"target/scaleprobe/docs_$tag"
          docs.write.mode("overwrite").parquet(path)
          val store = Dedup.exact(docs.filter(col("doc_id") % 97 =!= 0))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          store.count()
          time(s"$tag/stream_exact_screen")({
            val schema = spark.read.parquet(path).schema
            val stream = spark.readStream.schema(schema).parquet(path)
              .filter(col("doc_id") % 97 === 0)
            val name = s"probe_stream_screen_$tag"
            val q = graft.streaming.StreamOps.screenStreamExact(stream, store)
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        // phrase search: corpus × |phrases| narrow scan, no index join
        "phrase_search" -> (() =>
          time(s"$tag/phrase_search")(
            graft.ops.Retrieval.phraseSearch(docs, Seq(
              (1L, Seq("table", "hash")), (2L, Seq("part", "filter")),
              (3L, Seq("query", "big", "query")), (4L, Seq("warp", "drive"))),
              k = 10).count())),
        // vocab coverage: two-level log2-bucket prefix sum over the vocab
        "vocab_coverage" -> (() =>
          time(s"$tag/vocab_coverage")(
            graft.ops.TextStats.vocabCoverage(docs, coveragePct = 95)
              .count())),
        // interval join: (user, time-bin) equi-join + residual — purchases
        // replicate with the events corpus, so both sides grow N× but the
        // bin keying keeps pair work at events-per-(user, window-slice)
        "attribution_window" -> (() =>
          time(s"$tag/attribution_window")(
            graft.ops.IntervalJoin.attributionWindow(ev, windowMinutes = 30)
              .count())),
        // curriculum interleave: the stratum-keyed epochOrder two-level rank
        "curriculum" -> (() =>
          time(s"$tag/curriculum")(
            graft.ops.Packing.curriculumInterleave(docs, mixWeights, epoch = 1)
              .count())),
        // composed curation pipeline: gates -> exact dedup -> packing
        "pipeline_curation" -> (() =>
          time(s"$tag/pipeline_curation")({
            val kept = docs.join(
              graft.ops.TextStats.gopherRules(docs, Seq("the", "a"), minWords = 40)
                .filter(col("is_keep") === 1L).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            val surv = kept.join(
              Dedup.exact(kept).select(col("canonical_id").as("doc_id")),
              Seq("doc_id"), "left_semi")
            Packing.packSequences(surv, budget = 4096L).count()
          })),
        // bigram novelty: bigram explode + two combinable aggs + key join
        "bigram_novelty" -> (() =>
          time(s"$tag/bigram_novelty")(
            graft.ops.TextStats.bigramNovelty(docs, minCf = 5).count())),
        // BM25: same tokenize-explode + broadcast-pruned postings as
        // boolean_retrieval, plus the dl join (corpus-keyed) and a 1-row
        // broadcast of (N, Σdl)
        "bm25_retrieval" -> (() =>
          time(s"$tag/bm25_retrieval")(
            graft.ops.Retrieval.bm25Retrieval(docs, Seq(
              (1L, Seq("hash", "join")), (2L, Seq("sort", "merge", "join")),
              (3L, Seq("stream", "window")), (4L, Seq("dup"))), k = 10)
              .count())),
        // ordered funnel: three user-keyed min-aggregates + equi-joins on
        // monotonically shrinking reacher relations
        "funnel" -> (() =>
          time(s"$tag/funnel")(
            graft.ops.EventAnalytics.funnel(ev,
              Seq("view", "click", "purchase")).count())),
        // cohort retention: distinct (user, day) + min-agg + join-back
        "retention" -> (() =>
          time(s"$tag/retention")(
            graft.ops.EventAnalytics.retentionCohorts(ev).count())),
        // SCD2: one user-keyed exchange feeding both change windows
        "scd2" -> (() =>
          time(s"$tag/scd2")(
            graft.ops.EventAnalytics.scd2(ev).count())),
        // STATEFUL streaming twins END-TO-END (file source →
        // flatMapGroupsWithState → memory sink, AvailableNow) — the
        // registry surfaces stream_scd2/stream_funnel in probe form. The
        // events land on disk UNTIMED (they are the deployed corpus); the
        // timed section is the stream pass: one user-keyed state exchange
        // + per-group state sequencing, so the expected shape is the batch
        // operator's cost class plus fixed micro-batch overhead — state is
        // one row (scd2) / one prefix vector (funnel) per user, growing
        // with |users|, never with corpus length.
        "stream_scd2" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_scd2")({
            val schema = spark.read.parquet(path).schema
            val typed = Tables.normalizeEventTs(
                spark.readStream.schema(schema).parquet(path))
              .select(col("user_id"), col("ts"), col("event_id"), col("value"))
              .as(org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamOps.ScdEvent])
            val name = s"probe_stream_scd2_$tag"
            val q = graft.streaming.StreamOps.scd2Stream(typed).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        // streaming D1 (the stream_latest_per_key registry shape):
        // mapGroupsWithState latest-per-key, UPDATE mode — state and
        // output are both one row per key, so the probe should read as
        // one corpus scan + a |keys|-sized sink regardless of N.
        "stream_latest" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_latest")({
            val schema = spark.read.parquet(path).schema
            val typed = Tables.normalizeEventTs(
                spark.readStream.schema(schema).parquet(path))
              .select(col("user_id").cast("string").as("location"),
                col("ts").as("event_timestamp"), col("event_id"),
                col("event_type").as("code"), col("value"))
              .as(org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamOps.ObsState])
            val name = s"probe_stream_latest_$tag"
            val q = graft.streaming.StreamOps.latestPerKeyStateful(typed)
              .toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode(graft.streaming.StreamOps.LatestOutputMode)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        // DECOMPOSITION of stream_scd2's 100× wall: same stream, same
        // state sequencing, but a distributed count per micro-batch via
        // foreachBatch instead of the driver-materializing memory sink —
        // the difference IS the memory-sink term (9.9 M spans collected
        // to the driver at the verification surface).
        "stream_scd2_noopsink" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_scd2_noopsink")({
            val schema = spark.read.parquet(path).schema
            val typed = Tables.normalizeEventTs(
                spark.readStream.schema(schema).parquet(path))
              .select(col("user_id"), col("ts"), col("event_id"), col("value"))
              .as(org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamOps.ScdEvent])
            var total = 0L
            val q = graft.streaming.StreamOps.scd2Stream(typed).toDF()
              .writeStream
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
                total += b.count()
              }
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            total
          })
        }),
        "stream_funnel" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_funnel")({
            val schema = spark.read.parquet(path).schema
            val typed = Tables.normalizeEventTs(
                spark.readStream.schema(schema).parquet(path))
              .select(col("user_id"), col("event_type"), col("ts"))
              .as(org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamOps.FunnelEvent])
            val name = s"probe_stream_funnel_$tag"
            val q = graft.streaming.StreamOps.funnelStream(typed,
                Seq("view", "click", "purchase")).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        "stream_retention" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_retention")({
            val schema = spark.read.parquet(path).schema
            val typed = Tables.normalizeEventTs(
                spark.readStream.schema(schema).parquet(path))
              .select(col("user_id"), col("event_type"), col("ts"))
              .as(org.apache.spark.sql.Encoders.product[
                graft.streaming.StreamOps.FunnelEvent])
            val name = s"probe_stream_retention_$tag"
            val q = graft.streaming.StreamOps.retentionStream(typed,
                bucketDays = 7).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        // KMV sketches: the only corpus-shaped step is the (group, hash)
        // DISTINCT (map-side combinable, 12-byte rows); the bottom-k cut
        // is the rpRerank bounded-aggregate pattern and everything after
        // the per-part sketches is sketch-sized. Expect the linear-scan
        // class.
        "sketch_kmv" -> (() =>
          time(s"$tag/sketch_kmv")(
            graft.ops.Sketches.kmvDistinct(docs, "lang", "text", k = 32)
              .count())),
        "sketch_kmv_overlap" -> (() =>
          time(s"$tag/sketch_kmv_overlap")(
            graft.ops.Sketches.kmvOverlap(ev, "event_type", "user_id",
              k = 64).count())),
        // weighted priority sample: narrow projection + global top-n
        // (TakeOrderedAndProject — bounded per-partition heaps); the only
        // corpus-shaped work is the scan, so expect the flat class
        "sample_priority" -> (() =>
          time(s"$tag/sample_priority")(
            Sampling.prioritySample(docs, "lang",
              Map("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L,
                "zh" -> 1L), n = 100).count())),
        // DECOMPOSITION of stream_sessionize's 100× wall: the staging
        // write alone (coalesce(1), corpus-linear, single-threaded —
        // harness-only; production streams arrivals directly). The full
        // op's wall minus this names the stream term.
        "stream_sessionize_stage" -> (() =>
          time(s"$tag/stream_sessionize_stage")({
            val obs2 = ev.select(col("user_id").cast("string").as("location"),
              col("ts").as("event_timestamp"))
            val wmDriver = obs2
              .agg(max(col("event_timestamp")).as("event_timestamp"))
              .filter(col("event_timestamp").isNotNull)
              .select(lit("~wm").as("location"), col("event_timestamp"))
            graft.streaming.Ingest.stageOrderedFiles(spark,
              Seq(obs2, wmDriver), s"target/scaleprobe/sess_stage_$tag")
            2L // staged files; the timed work is the write itself
          })),
        // ...and the sessionize stream WITHOUT the memory sink (staged
        // replay + session_window + distributed per-batch count): full op
        // minus stage minus this names the driver-sink term.
        "stream_sessionize_noopsink" -> (() =>
          time(s"$tag/stream_sessionize_noopsink")({
            val obs2 = ev.select(col("user_id").cast("string").as("location"),
              col("ts").as("event_timestamp"))
            val wmDriver = obs2
              .agg(max(col("event_timestamp")).as("event_timestamp"))
              .filter(col("event_timestamp").isNotNull)
              .select(lit("~wm").as("location"), col("event_timestamp"))
            val in = graft.streaming.Ingest.stageOrderedFiles(spark,
              Seq(obs2, wmDriver), s"target/scaleprobe/sess_noop_$tag")
            var total = 0L
            val q = graft.streaming.StreamOps.sessionizeStream(in,
                gapMinutes = 480, watermarkDelay = "4 hours")
              .writeStream
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
                total += b.count()
              }
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            total
          })),
        // the STREAM-STREAM interval join (the stream_interval_join
        // registry shape): purchases ⋈ recent same-user events, raw pair
        // emission (inner join emits on arrival — no wm dependency in a
        // bounded replay), then the batch aggregate over the materialized
        // pairs. Both sides buffer in join state within the batch, so the
        // expected cost is two corpus scans + the (user, time-bin)-bounded
        // pair state — the attribution_window class plus sink overhead.
        "stream_interval_join" -> (() => {
          val path = s"target/scaleprobe/events_$tag"
          ev.write.mode("overwrite").parquet(path)
          time(s"$tag/stream_interval_join")({
            val schema = spark.read.parquet(path).schema
            def src() = Tables.normalizeEventTs(
              spark.readStream.schema(schema).parquet(path))
            val e = src().withWatermark("ts", "1 hour")
              .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
                expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            val p = src().filter(col("event_type") === "purchase")
              .withWatermark("ts", "1 hour")
              .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
                col("event_id").as("purchase_id"))
            val joined = p.join(e,
              col("e_user") === col("p_user") &&
                col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
                col("e_ts") < col("p_ts"))
            val name = s"probe_stream_ssj_$tag"
            val q = joined.writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).groupBy(col("purchase_id"))
              .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("c"),
                max(col("e_ts")).as("m")).count()
          })
        }),
        // BOUNDED-STATE configuration of the stream-stream interval join
        // (r16 Next #6): the registry query replays both full sides
        // through join state in ONE batch — the worst case (the 45 s /
        // 4.4-ratio probe is that state-write price). Here the corpus is
        // staged as FOUR time-quartile files (stageOrderedFiles,
        // maxFilesPerTrigger=1), so the watermark advances between
        // micro-batches and EVICTS join state behind wm − 30 min — the
        // shape a 100 TB deployment actually runs. No matched pair can be
        // lost: a pair crossing batches needs e_ts >= p_ts − 30 min, and
        // any such e-row sits ABOVE the eviction line when its p arrives
        // (wm <= prior-batch max − 1 h). Peak stateOperators.numRowsTotal
        // is printed with the row — the bounded-state claim, measured
        // (eviction semantics themselves are pinned in StreamOpsSpec).
        "stream_interval_join_staged" -> (() => {
          val obs = ev.select(col("user_id"), col("ts"),
            col("event_id"), col("event_type"), col("value"))
          // quartile cuts as a 1-row broadcast fold (the A1 anchor-max
          // pattern — no driver collect); integer div keeps the four
          // ranges a gap-free partition of [mn, mx]
          val boundsDf = obs.agg(
            unix_micros(min(col("ts"))).as("mn"),
            unix_micros(max(col("ts"))).as("mx"))
          val stages = (0 until 4).map { i =>
            val lo = expr(s"mn + ((mx - mn + 1) * $i) div 4")
            val hi = expr(s"mn + ((mx - mn + 1) * ${i + 1}) div 4")
            obs.crossJoin(broadcast(boundsDf))
              .filter(unix_micros(col("ts")) >= lo &&
                unix_micros(col("ts")) < hi)
              .drop("mn", "mx")
          }
          time(s"$tag/stream_interval_join_staged")({
            val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
              s"target/scaleprobe/ssj_staged_$tag")
            val e = in.withWatermark("ts", "1 hour")
              .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
                expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            val p = in.filter(col("event_type") === "purchase")
              .withWatermark("ts", "1 hour")
              .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
                col("event_id").as("purchase_id"))
            val joined = p.join(e,
              col("e_user") === col("p_user") &&
                col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
                col("e_ts") < col("p_ts"))
            val name = s"probe_stream_ssj_staged_$tag"
            val q = joined.writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val peak = q.recentProgress
              .map(pr => pr.stateOperators.map(_.numRowsTotal).sum).max
            val total = ev.count() // corpus rows per side upper bound
            println(f"[probe-state] $tag/ssj_staged peak state $peak%,d rows" +
              f" vs $total%,d corpus rows (${100.0 * peak / (2 * total)}%.1f%% of the 1-batch worst case)")
            spark.table(name).groupBy(col("purchase_id"))
              .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("c"),
                max(col("e_ts")).as("m")).count()
          })
        }),
        // stored-sketch update (sketch_kmv_merge registry shape): two
        // half-corpus kmvSketch builds (each one corpus-shaped 12-byte
        // DISTINCT) + the sketch-sized full-outer merge — expected ≈ the
        // kmv_distinct probe's cost, the merge itself group-count-sized
        "sketch_kmv_merge" -> (() =>
          time(s"$tag/sketch_kmv_merge")(
            graft.ops.Sketches.kmvMergeAgainst(
              graft.ops.Sketches.kmvSketch(
                ev.filter(col("event_id") % 2 === 0), "event_type",
                "user_id", k = 64),
              graft.ops.Sketches.kmvSketch(
                ev.filter(col("event_id") % 2 === 1), "event_type",
                "user_id", k = 64),
              "event_type", k = 64).count())),
        // STREAMING stored-sketch maintenance (stream_kmv_update registry
        // shape): four staged micro-batches (event_id mod 4), each batch
        // sketched (batch-shaped 12-byte DISTINCT) and folded into the
        // versioned parquet store — three cross-batch sketch-sized merges.
        // Expected: the sketch_kmv_merge cost class + the staging writes
        // (corpus-linear) + 4 micro-batch scheduling; no Spark state.
        "stream_kmv_update" -> (() => {
          val stages = (0 to 3).map(r =>
            ev.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("user_id")))
          val storeDir = s"target/scaleprobe/kmv_store_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          time(s"$tag/stream_kmv_update")({
            val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
              s"target/scaleprobe/kmv_stream_$tag")
            val q = graft.streaming.StreamOps.kmvUpdateStream(in,
                "event_type", "user_id", k = 64, storeDir)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.ops.Sketches.kmvEstimates(
              graft.streaming.StreamOps.kmvStoreRead(spark, storeDir),
              k = 64).count()
          })
        }),
        // decomposition variant: staging (4 coalesce(1) parquet writes —
        // the corpus-linear VERIFICATION-SURFACE cost; a deployment reads
        // arriving files/Kafka directly) runs UNTIMED, so the timed
        // section is the operator itself: 4 micro-batch scans + sketches
        // + 3 sketch-sized store merges
        "stream_kmv_update_nostage" -> (() => {
          val stages = (0 to 3).map(r =>
            ev.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("user_id")))
          val storeDir = s"target/scaleprobe/kmv_store_ns_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/kmv_stream_ns_$tag")
          time(s"$tag/stream_kmv_update_nostage")({
            val q = graft.streaming.StreamOps.kmvUpdateStream(in,
                "event_type", "user_id", k = 64, storeDir)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.ops.Sketches.kmvEstimates(
              graft.streaming.StreamOps.kmvStoreRead(spark, storeDir),
              k = 64).count()
          })
        }),
        // RETENTION variant (stream_kmv_compacted registry shape): the
        // same fold with compactKeepLast = 1 — after every committed
        // version the store deletes all but the newest. Expected ≈ the
        // stream_kmv_update_nostage cost + 3 local-FS directory deletes
        // (sketch-sized files): compaction must be measurably free, or
        // the retention loop would itself become the write amplifier it
        // exists to remove
        "stream_kmv_compacted_nostage" -> (() => {
          val stages = (0 to 3).map(r =>
            ev.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("user_id")))
          val storeDir = s"target/scaleprobe/kmv_store_cp_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/kmv_stream_cp_$tag")
          time(s"$tag/stream_kmv_compacted_nostage")({
            val q = graft.streaming.StreamOps.kmvUpdateStream(in,
                "event_type", "user_id", k = 64, storeDir,
                compactKeepLast = 1)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.ops.Sketches.kmvEstimates(
              graft.streaming.StreamOps.kmvStoreRead(spark, storeDir),
              k = 64).count()
          })
        }),
        // trailing-window distinct from daily sketches (sketch_kmv_sliding
        // registry shape): ONE (group, day, hash) DISTINCT is the only
        // corpus-shaped work; the sliding union is a range-frame window
        // over sketch rows (≤ 7 arrays × k longs per output row)
        "sketch_kmv_sliding" -> (() =>
          time(s"$tag/sketch_kmv_sliding")(
            graft.ops.Sketches.kmvSlidingDistinct(ev, "event_type", "ts",
              "user_id", k = 32, windowDays = 7).count())),
        // trailing-window pairwise overlap from daily sketches
        // (sketch_kmv_overlap_sliding registry shape): ONE (part, day,
        // hash) DISTINCT is the corpus-shaped work; the windows and the
        // same-day pair self-join run over sketch rows (≤ k longs per
        // (part, day)) — expected the sketch_kmv_sliding cost class +
        // the |parts|²·|days| pair read
        "sketch_kmv_overlap_sliding" -> (() =>
          time(s"$tag/sketch_kmv_overlap_sliding")(
            graft.ops.Sketches.kmvSlidingOverlap(ev, "event_type", "ts",
              "user_id", k = 64, windowDays = 7).count())),
        // STREAMING frequency-store maintenance (stream_cms_update
        // registry shape), staging untimed like the kmv variant: four
        // micro-batch cell-count builds + three cell-sum merges —
        // expected the sketch_cms_freq cost class + micro-batch
        // scheduling; staging cost is IDENTICAL to stream_kmv_update's
        // measured decomposition (same staged input)
        "stream_cms_update_nostage" -> (() => {
          val stages = (0 to 3).map(r =>
            ev.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("user_id")))
          val storeDir = s"target/scaleprobe/cms_store_ns_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/cms_stream_ns_$tag")
          time(s"$tag/stream_cms_update_nostage")({
            val q = graft.streaming.StreamOps.cmsUpdateStream(in,
                "event_type", "user_id", depth = 4, width = 1024, storeDir)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val probes = ev
              .filter(col("user_id").isNotNull && col("user_id") % 10 === 0)
              .select(col("event_type"), col("user_id")).distinct()
            graft.ops.Sketches.cmsEstimate(
              graft.streaming.StreamOps.sketchStoreRead(spark, storeDir),
              probes, "event_type", "user_id", depth = 4,
              width = 1024).count()
          })
        }),
        // deployment-parallelism decomposition for the CMS streaming
        // fold: the EXACT foreachBatch body (batch sketch + store merge
        // + versioned write) run over the same four event_id-quartile
        // batches as plain parquet-parallel frames — what a deployed
        // micro-batch costs when its source has native partitioning,
        // isolating the staged replay's one-file-per-batch
        // single-task cap as the difference vs stream_cms_update_nostage
        "stream_cms_update_parbatch" -> (() => {
          val storeDir = s"target/scaleprobe/cms_store_pb_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          time(s"$tag/stream_cms_update_parbatch")({
            (0 to 3).foreach { r =>
              val batchSk = graft.ops.Sketches.cmsSketch(
                ev.filter(col("event_id") % 4 === r), "event_type",
                "user_id", depth = 4, width = 1024)
              val merged =
                if (r == 0) batchSk
                else graft.ops.Sketches.cmsMerge(
                  spark.read.parquet(s"$storeDir/v${r - 1}"), batchSk,
                  "event_type")
              merged.write.mode("overwrite").parquet(s"$storeDir/v$r")
            }
            val probes = ev
              .filter(col("user_id").isNotNull && col("user_id") % 10 === 0)
              .select(col("event_type"), col("user_id")).distinct()
            graft.ops.Sketches.cmsEstimate(
              graft.streaming.StreamOps.sketchStoreRead(spark, storeDir),
              probes, "event_type", "user_id", depth = 4,
              width = 1024).count()
          })
        }),
        // build-only decomposition of the parbatch fold: the four
        // quarter-corpus cell builds alone (count-materialized, no store
        // IO) — the irreducible per-batch compute a deployment pays
        "stream_cms_update_buildonly" -> (() =>
          time(s"$tag/stream_cms_update_buildonly")(
            (0 to 3).map { r =>
              graft.ops.Sketches.cmsSketch(
                ev.filter(col("event_id") % 4 === r), "event_type",
                "user_id", depth = 4, width = 1024).count()
            }.sum)),
        // Count-Min frequency sketch (sketch_cms_freq registry shape):
        // two half-corpus builds (each ONE map-side-combinable aggregate
        // over the 4×-exploded corpus) + cell-sum merge + probe reads —
        // everything after the per-half combines is d·w-sized
        "sketch_cms_freq" -> (() =>
          time(s"$tag/sketch_cms_freq")({
            def half(rem: Int) = graft.ops.Sketches.cmsSketch(
              ev.filter(col("event_id") % 2 === rem), "event_type",
              "user_id", depth = 4, width = 1024)
            val store = graft.ops.Sketches.cmsMerge(half(0), half(1),
              "event_type")
            val probes = ev
              .filter(col("user_id").isNotNull && col("user_id") % 10 === 0)
              .select(col("event_type"), col("user_id")).distinct()
            graft.ops.Sketches.cmsEstimate(store, probes, "event_type",
              "user_id", depth = 4, width = 1024).count()
          })),
        // mergeable quantile sketch (sketch_kmv_quantiles registry shape):
        // two half-corpus packed-word DISTINCTs + sketch-sized merge +
        // order-statistic reads — the sketch_kmv_merge cost class
        "sketch_kmv_quantiles" -> (() =>
          time(s"$tag/sketch_kmv_quantiles")({
            def half(rem: Int) = graft.ops.Sketches.kmvQuantileSketch(
              ev.filter(col("event_id") % 2 === rem), "event_type",
              "event_id", floor(col("value") * lit(100)).cast("long"),
              k = 128)
            graft.ops.Sketches.kmvQuantiles(
              graft.ops.Sketches.kmvMergeSketches(half(0), half(1),
                "event_type", k = 128),
              "event_type", Seq(25, 50, 75, 99)).count()
          })),
        // Misra-Gries heavy hitters (sketch_topk_heavy registry shape):
        // two half-corpus token counts (the only corpus-shaped work, one
        // map-side-combinable aggregate each) cut to top-(k+1) pairs by
        // the bounded aggregator, merged sketch-sized. Replication
        // multiplies counts, not distinct tokens — expect the flat-ratio
        // signature of vocabulary-shaped work after the count aggregate
        "sketch_topk_heavy" -> (() =>
          time(s"$tag/sketch_topk_heavy")({
            val toks = docs
              .filter(col("text").isNotNull && col("lang").isNotNull)
              .select(col("doc_id"), col("lang"),
                explode(split(col("text"), " ")).as("token"))
              .filter(col("token") =!= "")
            def half(rem: Int) = graft.ops.Sketches.mgSummary(
              toks.filter(col("doc_id") % 2 === rem), "lang", "token",
              k = 12)
            graft.ops.Sketches.mgTopK(
              graft.ops.Sketches.mgMerge(half(0), half(1), "lang", k = 12),
              "lang", kOut = 8).count()
          })),
        // sliding-window CMS (sketch_cms_sliding registry shape): ONE
        // corpus-shaped daily-cell aggregate; the trailing-day union is
        // a group-keyed join over ≤ d·w cells per (group, day) — daily
        // cells saturate at d·w per group-day under replication, so the
        // windowed join is volume-invariant once saturated
        "sketch_cms_sliding" -> (() =>
          time(s"$tag/sketch_cms_sliding")({
            val store = graft.ops.Sketches.cmsSlidingSketch(ev,
              "event_type", "ts", "user_id", depth = 3, width = 256,
              windowDays = 7)
            val probes = ev
              .filter(col("user_id").isNotNull && col("user_id") % 20 === 0)
              .select(col("event_type"), col("user_id")).distinct()
            graft.ops.Sketches.cmsSlidingEstimate(store, probes,
              "event_type", "user_id", depth = 3, width = 256).count()
          })),
        // streaming quantile-store maintenance (stream_quantile_update
        // registry shape), staging untimed like the other _nostage
        // variants: four packed-word micro-batch sketches + three
        // sketch-sized bottom-k merges — the stream_kmv_update cost
        // class with the quantile packing
        "stream_quantile_update_nostage" -> (() => {
          val stages = (0 to 3).map(r =>
            ev.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("event_id"), col("value")))
          val storeDir = s"target/scaleprobe/quant_store_ns_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/quant_stream_ns_$tag")
          time(s"$tag/stream_quantile_update_nostage")({
            val cents = floor(col("value") * lit(100)).cast("long")
            val q = graft.streaming.StreamOps.sketchUpdateStream(in,
                storeDir,
                b => graft.ops.Sketches.kmvQuantileSketch(b, "event_type",
                  "event_id", cents, k = 128),
                (store, b) => graft.ops.Sketches.kmvMergeSketches(store, b,
                  "event_type", k = 128))
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.ops.Sketches.kmvQuantiles(
              graft.streaming.StreamOps.sketchStoreRead(spark, storeDir),
              "event_type", Seq(25, 50, 75, 99)).count()
          })
        }),
        // trending keys (sketch_topk_sliding registry shape): daily MG
        // summaries (one corpus-shaped count aggregate) + date-anchored
        // window sums over ≤ windowDays·k summary rows per output day +
        // one merge prune — summary-shaped after the daily counts
        "sketch_topk_sliding" -> (() =>
          time(s"$tag/sketch_topk_sliding")(
            graft.ops.Sketches.mgSlidingTopK(
              ev.withColumn("vbucket", floor(col("value") / 10).cast("long")),
              "event_type", "ts", "vbucket", k = 16, windowDays = 7,
              kOut = 5).count())),
        // CMS-refined heavy hitters (sketch_topk_refined registry
        // shape): whole-corpus MG summary + whole-corpus CMS build +
        // candidate-probe reads — two corpus-shaped aggregates, then
        // everything candidate-sized
        "sketch_topk_refined" -> (() =>
          time(s"$tag/sketch_topk_refined")({
            val evb = ev.withColumn("vbucket",
              floor(col("value") / 10).cast("long"))
            val top = graft.ops.Sketches.mgTopK(
              graft.ops.Sketches.mgSummary(evb, "event_type", "vbucket",
                k = 16), "event_type", kOut = 8)
            val store = graft.ops.Sketches.cmsSketch(evb, "event_type",
              "vbucket", depth = 4, width = 1024)
            val cms = graft.ops.Sketches.cmsEstimate(store,
                top.select(col("event_type"), col("key")),
                "event_type", "key", depth = 4, width = 1024)
              .withColumnRenamed("est_cnt", "cms_cnt")
            top.join(cms, Seq("event_type", "key")).count()
          })),
        // deployment-parallelism decomposition for the quantile fold
        // (the stream_cms_update_parbatch precedent): the EXACT
        // per-batch body (packed-word sketch + store merge + versioned
        // write) over the same four event_id-quartile batches as
        // parquet-parallel frames — isolating the staged replay's
        // one-file-per-batch single-task cap as the difference vs
        // stream_quantile_update_nostage
        "stream_quantile_update_parbatch" -> (() => {
          val storeDir = s"target/scaleprobe/quant_store_pb_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          time(s"$tag/stream_quantile_update_parbatch")({
            val cents = floor(col("value") * lit(100)).cast("long")
            (0 to 3).foreach { r =>
              val batchSk = graft.ops.Sketches.kmvQuantileSketch(
                ev.filter(col("event_id") % 4 === r), "event_type",
                "event_id", cents, k = 128)
              val merged =
                if (r == 0) batchSk
                else graft.ops.Sketches.kmvMergeSketches(
                  spark.read.parquet(s"$storeDir/v${r - 1}"), batchSk,
                  "event_type", k = 128)
              merged.write.mode("overwrite").parquet(s"$storeDir/v$r")
            }
            graft.ops.Sketches.kmvQuantiles(
              spark.read.parquet(s"$storeDir/v3"),
              "event_type", Seq(25, 50, 75, 99)).count()
          })
        }),
        // streaming heavy-hitters store maintenance (stream_topk_update
        // registry shape), staging untimed: four per-batch MG summaries
        // (each one count aggregate + bounded pair cut) + three
        // summary-sized map merges — the versioned-store fold with
        // candidate-sized state
        "stream_topk_update_nostage" -> (() => {
          val evb = ev.withColumn("vbucket",
            floor(col("value") / 10).cast("long"))
          val stages = (0 to 3).map(r =>
            evb.filter(col("event_id") % 4 === r)
              .select(col("event_type"), col("vbucket")))
          val storeDir = s"target/scaleprobe/mg_store_ns_$tag"
          graft.streaming.Ingest.deleteRecursively(storeDir)
          val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
            s"target/scaleprobe/mg_stream_ns_$tag")
          time(s"$tag/stream_topk_update_nostage")({
            val q = graft.streaming.StreamOps.sketchUpdateStream(in,
                storeDir,
                b => graft.ops.Sketches.mgSummary(b, "event_type",
                  "vbucket", k = 16),
                (store, b) => graft.ops.Sketches.mgMerge(store, b,
                  "event_type", k = 16),
                versionByBatchId = true)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            graft.ops.Sketches.mgTopK(
              graft.streaming.StreamOps.sketchStoreRead(spark, storeDir),
              "event_type", kOut = 8).count()
          })
        }),
        // sliding quantiles from daily packed sketches
        // (sketch_quantiles_sliding registry shape): one (group, day,
        // pk) DISTINCT is the only corpus-shaped work; the sliding
        // union windows ≤ 7 arrays × k longs per output row — the
        // sketch_kmv_sliding cost class on 16-byte packed words
        "sketch_quantiles_sliding" -> (() =>
          time(s"$tag/sketch_quantiles_sliding")(
            graft.ops.Sketches.kmvSlidingQuantiles(ev, "event_type", "ts",
              "event_id", floor(col("value") * lit(100)).cast("long"),
              k = 64, windowDays = 7, Seq(25, 50, 75)).count())),
        // real per-frame fan-out (mm_frame_sample registry shape):
        // decode + frame explode + per-frame integer reduce — row-linear
        // like mm_video_stats with an 8x output fan-out
        "mm_frame_sample" -> (() => {
          val spark2 = spark
          import spark2.implicits._
          time(s"$tag/mm_frame_sample")(
            graft.ops.Multimodal.videoFrames(
                graft.ops.Multimodal.asVideo(docs))
              .map(f => (f.doc_id, f.frame_idx.toLong,
                f.frame_bytes.map(b => (b & 0xff).toLong).sum))
              .toDF("doc_id", "frame_idx", "sum_bytes").count())
        }),
        // real Y4M video codec (mm_video_stats registry shape): encode +
        // header parse + frame walk + integer reduce, all inside the
        // batched mapPartitions codec seam — row-linear, no shuffle
        // beyond the final count
        "mm_video_stats" -> (() =>
          time(s"$tag/mm_video_stats")(
            graft.ops.Multimodal.extractVideoFeatures(
              graft.ops.Multimodal.asVideo(docs)).count())),
        // real COMPRESSED audio leg (mm_mulaw_stats registry shape):
        // per-sample G.711 compress + RIFF write, then the walk + exact
        // expansion — row-linear, pure integer codec work
        "mm_mulaw_stats" -> (() =>
          time(s"$tag/mm_mulaw_stats")(
            graft.ops.Multimodal.extractAudioFeatures(
              graft.ops.Multimodal.asAudioMulaw(docs)).count())),
        // real COMPRESSED video leg (mm_mjpeg_stats registry shape):
        // per-frame JPEG encode + AVI container write, then the RIFF
        // walk + per-frame ImageIO JPEG decode — row-linear like the
        // Y4M leg but with genuine DCT codec work per frame (the cost
        // a real crawl's media lane pays)
        "mm_mjpeg_stats" -> (() =>
          time(s"$tag/mm_mjpeg_stats")(
            graft.ops.Multimodal.extractMjpegFeatures(
              graft.ops.Multimodal.asVideoMjpeg(docs)).count())),
        // streaming exact dedup with watermark state
        // (stream_dedup_watermark registry shape): canonical rows staged
        // as batch 0, intra-corpus duplicates + full re-crawl as batch 1
        // — per-batch cost batch-shaped (+ the rank window in staging),
        // state = one fingerprint row per distinct content in the delay
        "stream_dedup_watermark" -> (() => {
          val base = 1700000000000000L
          def staged(df: DataFrame, idOff: Long) = df.select(
            (col("doc_id") + lit(idOff)).as("doc_id"),
            timestamp_micros(lit(base) +
              (col("doc_id") + lit(idOff)) * lit(1000000L))
              .as("event_timestamp"),
            col("text"))
          time(s"$tag/stream_dedup_watermark")({
            val ranked = docs.select(col("doc_id"), col("text"))
              .withColumn("__rn", row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(graft.ops.TextStats.fingerprint(col("text")))
                  .orderBy(col("doc_id"))))
            val in = graft.streaming.Ingest.stageOrderedFiles(spark,
              Seq(staged(ranked.filter(col("__rn") === 1), 0L),
                staged(ranked.filter(col("__rn") > 1), 0L)
                  .unionByName(staged(ranked, 100000000L))),
              s"target/scaleprobe/dedup_wm_$tag")
            val name = s"probe_stream_dedup_wm_$tag"
            val q = graft.streaming.StreamOps.dedupExactStream(in, "30 days")
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })
        }),
        // watermark-evicted session windows over the staged two-file
        // replay (the stream_sessionize registry shape): corpus batch
        // sets the wm, driver batch flushes sessions under it. State is
        // one open session per key; the timed section includes the
        // staging write (corpus-linear) + both micro-batches.
        "stream_sessionize" -> (() =>
          time(s"$tag/stream_sessionize")({
            val obs2 = ev.select(col("user_id").cast("string").as("location"),
              col("ts").as("event_timestamp"))
            val wmDriver = obs2
              .agg(max(col("event_timestamp")).as("event_timestamp"))
              .filter(col("event_timestamp").isNotNull)
              .select(lit("~wm").as("location"), col("event_timestamp"))
            val in = graft.streaming.Ingest.stageOrderedFiles(spark,
              Seq(obs2, wmDriver), s"target/scaleprobe/sess_stream_$tag")
            val name = s"probe_stream_sess_$tag"
            val q = graft.streaming.StreamOps.sessionizeStream(in,
                gapMinutes = 480, watermarkDelay = "4 hours")
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            spark.table(name).count()
          })),
        // MAD outliers: two percentile passes + broadcast joins — the probe
        // runs the EXACT percentile the oracle checks; per-type buffers
        // grow with the corpus (the documented reason the 100 TB path is
        // the approx sketch), so the pair of numbers shows that trade
        "mad_anomalies" -> (() =>
          time(s"$tag/mad_anomalies")(
            graft.ops.EventAnalytics.madAnomalies(ev).count())),
        "mad_anomalies_approx" -> (() =>
          time(s"$tag/mad_anomalies_approx")(
            graft.ops.EventAnalytics.madAnomalies(ev, approx = true).count())),
        // fuzzy entity resolution: contracted through distinct names, so
        // replication grows GROUP COUNTS, never the blocked pair join —
        // the flat-ratio signature, like bpe_encode's vocab fixpoint
        "fuzzy_names" -> (() =>
          time(s"$tag/fuzzy_names")(
            graft.ops.Linkage.fuzzyNamePairs(docs, "doc_id", "source")
              .count())),
        // triangle diagnostics on the CONTRACTED rep-rep graph: on a
        // duplicate-saturated corpus the raw pair graph holds K_m cliques
        // (m³ triangles per m-replica group — inherently output-cubic), so
        // production composes exactly like the CC loop: star-contract
        // first, count triangles among representatives only
        "triangles_contracted" -> (() =>
          time(s"$tag/triangles_contracted")({
            val (_, repPairs) = Dedup.minhashStarsAndRepPairs(docs, 16, 4, 0.5, "text")
            Dedup.triangleCounts(repPairs).count()
          })))
      probes.filter { case (op, _) => onlyOps.forall(_.contains(op)) }
        .map { case (_, probe) => val r = probe(); flush(spark, keep); r }
    }

    // 1× suite FIRST, before the N× corpora exist: an earlier layout cached
    // the replicated corpus up front, and its MemoryStore residency (tens of
    // GiB at 100×) inflated every 1× timing — cc_canonical measured 86 s at
    // 1× with the 100× corpus resident vs ~11 s in Bench. Ratios from that
    // layout flattered the N× side.
    val r1 = suite("1x", docs1, vecs1, ev1, Nil)
    val exactDup = sys.env.get("SPARK_GRAFT_PROBE_EXACTDUP").contains("1")
    val docsN = replicateDocs(docs1, factor, exact = exactDup).cache()
    val vecsN = replicateVecs(vecs1, factor).cache()
    val evN = replicateEvents(ev1, factor).cache()
    println(s"corpus: docs ${docsN.count()}, vecs ${vecsN.count()}, events ${evN.count()}")
    val cached = Seq(docsN, vecsN, evN)
    val rN = suite(s"${factor}x", docsN, vecsN, evN, cached)
    println(f"${"operator"}%-16s ${"1x sec"}%8s ${factor + "x sec"}%8s ${"ratio"}%7s  rows@N")
    r1.zip(rN).foreach { case ((n1, t1, _), (_, tN, rowsN)) =>
      val op = n1.split('/')(1)
      println(f"$op%-16s $t1%8.1f $tN%8.1f ${tN / t1}%7.1f  $rowsN")
    }
    spark.stop()
  }
}
