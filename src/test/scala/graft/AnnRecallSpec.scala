package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EmbeddingSim

/** Measured ANN quality on the real embedding corpus: the approximate
  * variants must (a) only ever return true-cosine-scored neighbors (no
  * score drift — scores come from the same quantized kernel) and (b) keep
  * recall@10 against the brute-force ground truth above a floor. */
class AnnRecallSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.01"
  private val queryPred = col("vec_id") % 100 === 0

  private lazy val vectors = Tables.embeddings(spark, dir)

  private lazy val truth: Map[Long, Set[Long]] =
    EmbeddingSim.bruteForceTopK(vectors, queryPred, 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }

  private def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
    val got = approx.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val per = truth.map { case (q, t) =>
      got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
    }
    per.sum / per.size
  }

  test("multi-probe LSH top-k recall@10 stays above its floor; coarser buckets raise recall") {
    // This corpus is near-uniform random (no cluster structure), the
    // hardest case for sign-LSH: single-probe measured 0.04, multi-probe
    // 0.12 at 8 planes. The floor pins against regression; the planes
    // knob must trade candidates for recall monotonically.
    val r8 = recallOf(EmbeddingSim.lshTopK(vectors, queryPred, 10, planes = 8))
    val r4 = recallOf(EmbeddingSim.lshTopK(vectors, queryPred, 10, planes = 4))
    info(f"lsh recall@10: planes=8 $r8%.2f, planes=4 $r4%.2f")
    assert(r8 >= 0.08, f"lsh multi-probe recall collapsed: $r8%.2f")
    assert(r4 >= r8, "coarser buckets (more candidates) must not lose recall")
  }

  test("near-dup pair recall at 8 planes with hamming-1 probing stays high on clustered data") {
    // Clustered corpus (the near-dup regime): 20 clusters × 3 vectors with
    // tiny perturbations → true pair cosine ≈ 1, so a pair's signatures
    // differ by ≥ 2 bits only when 2+ hyperplane margins are razor-thin.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 20).flatMap { c =>
      val center = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
      (0 until 3).map { j =>
        (c * 3L + j, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f))
      }
    }.toDF("vec_id", "embedding")
    val exact = EmbeddingSim.nearDupPairs(vecs, threshold = 0.99, planes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"cluster construction should yield ~60 true pairs, got ${exact.size}")
    def blockedPairs(probe: Boolean) =
      EmbeddingSim.nearDupPairs(vecs, threshold = 0.99, planes = 8, probeHamming1 = probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = blockedPairs(probe = false)
    val multi = blockedPairs(probe = true)
    assert(multi.subsetOf(exact), "blocking must never invent pairs")
    assert(single.subsetOf(multi), "hamming-1 probing must only add candidate pairs")
    val recall = (multi & exact).size.toDouble / exact.size
    info(f"near-dup pair recall: single ${(single & exact).size.toDouble / exact.size}%.2f, multi $recall%.2f")
    assert(recall >= 0.9, f"multi-probe pair recall collapsed: $recall%.2f")
  }

  test("autoPlanes grows with the corpus and stays clamped") {
    assert(EmbeddingSim.autoPlanes(100) === 4)
    assert(EmbeddingSim.autoPlanes(2000) === 5)
    assert(EmbeddingSim.autoPlanes(1000000) === 14)
    assert(EmbeddingSim.autoPlanes(Long.MaxValue) === 24)
  }

  test("IVF top-k recall@10 stays above its floor and beats fewer probes") {
    val r2 = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10, nprobe = 2))
    val r1 = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10, nprobe = 1))
    info(f"ivf recall@10: nprobe=1 $r1%.2f, nprobe=2 $r2%.2f")
    assert(r2 >= 0.3, f"ivf recall collapsed: $r2%.2f")
    assert(r2 >= r1, "more probes must not lose recall")
  }

  test("hierarchical IVF recall tracks flat IVF within the boundary tolerance") {
    // Same fine-cell count as flat ivf's 16-cell configuration would give:
    // the hierarchy only changes HOW cells are found (coarse-group first),
    // so recall may drop only by the group-boundary misassignment rate —
    // bounded here, not assumed.
    val hier = recallOf(EmbeddingSim.ivfHierTopK(vectors, queryPred, 10,
      fineK = 16, coarseK = 4, pcoarse = 2, nprobe = 2))
    val flat = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10,
      numCentroids = 16, nprobe = 2))
    info(f"ivf recall@10: flat-16 $flat%.2f, hier-16/4 $hier%.2f")
    assert(hier >= 0.15, f"hierarchical ivf recall collapsed: $hier%.2f")
    assert(hier >= flat - 0.15,
      f"hierarchy lost too much recall vs flat: $hier%.2f vs $flat%.2f")
    // widening the coarse probe must restore recall monotonically
    val wide = recallOf(EmbeddingSim.ivfHierTopK(vectors, queryPred, 10,
      fineK = 16, coarseK = 4, pcoarse = 4, nprobe = 2))
    assert(wide >= hier - 0.02, "more coarse probes must not lose recall")
  }

  test("trained IVF recall curve: k=32, iters=4 reaches the ship floor at higher nprobe") {
    // The production operating point: more, smaller cells (k=32 over this
    // 500-vector corpus ≈ 16 vectors/cell) with the probe count as the
    // recall/latency knob. The curve is recorded in BASELINE.md.
    val cents = EmbeddingSim.kmeansCentroids(vectors, k = 32, iters = 4)
    val curve = Seq(2, 4, 8).map { np =>
      np -> recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10,
        nprobe = np, centroids = Some(cents)))
    }
    info(curve.map { case (np, r) => f"nprobe=$np recall@10=$r%.2f" }.mkString(", "))
    curve.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(hi >= lo - 0.02, "recall must not degrade as nprobe grows")
    }
    assert(curve.last._2 >= 0.7,
      f"k=32/nprobe=8 must reach ship-quality recall, got ${curve.last._2}%.2f")
  }

  test("parquetRowCount reads footers only — no Spark job — and matches count()") {
    // A FRESH path, never counted in this JVM: the (path, modTime) memo is
    // process-global, so counting a shared fixture path here could hit the
    // cache and make the no-job assertion vacuous. The write's own jobs and
    // the count() run before the counter attaches.
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowcount")
    val path = s"$tmp/emb.parquet"
    vectors.write.parquet(path)
    val expected = vectors.count()
    var n = 0L
    val jobs = Prof.jobsDuring(spark) { n = Tables.parquetRowCount(spark, path) }
    assert(jobs === 0, "footer-metadata count must not launch a Spark job")
    assert(n === expected)
  }

  test("k-means-trained IVF keeps recall at or above its floor") {
    // Lloyd rounds move centroids off the arbitrary lowest-id seed toward
    // the data's density; on a near-uniform corpus the benefit is balance
    // (cell sizes even out) rather than big recall jumps, so the assertion
    // pins a floor relative to the seeded variant, not strict improvement.
    val cents = EmbeddingSim.kmeansCentroids(vectors, k = 8, iters = 2)
    val trained = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10,
      nprobe = 2, centroids = Some(cents)))
    val seeded = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10, nprobe = 2))
    info(f"ivf recall@10: seeded $seeded%.2f, trained $trained%.2f")
    assert(trained >= 0.3, f"trained-ivf recall collapsed: $trained%.2f")
    assert(trained >= seeded - 0.05,
      "training must not materially lose recall vs the seed")
  }

  test("IVF-PQ ADC top-k: recall floor vs brute force, richer codebooks do not lose recall") {
    // ADC reorders the SAME candidate set ivfTopK scores, by PQ-
    // reconstructed L2 instead of exact cosine — recall can only be ≤ the
    // exact-scored IVF run; the floor pins the reconstruction quality.
    val pq = recallOf(EmbeddingSim.ivfPqTopK(vectors, queryPred, 10))
    val ivf = recallOf(EmbeddingSim.ivfTopK(vectors, queryPred, 10))
    val rich = recallOf(EmbeddingSim.ivfPqTopK(vectors, queryPred, 10,
      m = 8, codebookK = 8))
    info(f"ivfpq recall@10: m=4/k=4 $pq%.2f, m=8/k=8 $rich%.2f, exact-ivf $ivf%.2f")
    assert(pq <= ivf + 1e-9, "ADC cannot beat exact scoring of the same candidates")
    assert(pq >= 0.05, f"ivfpq recall collapsed: $pq%.2f")
    assert(rich >= pq - 0.05,
      "finer quantization (more subspaces, bigger books) must not materially lose recall")
  }

  test("bulk IVF-PQ (shuffled-hash LUT) matches the broadcast form row-for-row; plan pinned") {
    val pred = col("vec_id") % 25 === 0
    val bulk = EmbeddingSim.ivfPqTopK(vectors, pred, 10, lutBroadcast = false)
    val bc = EmbeddingSim.ivfPqTopK(vectors, pred, 10, lutBroadcast = true)
    // the contract: identical arithmetic, different physical join — the
    // bulk configuration must not be able to change a single rank
    assert(bulk.orderBy("query_id", "rank").collect().toSeq ===
      bc.orderBy("query_id", "rank").collect().toSeq)
    // and it must actually EXERCISE the shuffled-hash path ON THE LUT JOIN:
    // the ShuffledHashJoin node must carry the (query_id, sub, code) keys —
    // an unrelated shuffled-hash join elsewhere must not satisfy the pin —
    // while the broadcast form must have NO shuffled-hash join on those keys
    def lutShj(plan: String): Boolean =
      plan.linesIterator.exists(l => l.contains("ShuffledHashJoin") &&
        Seq("query_id", "sub", "code").forall(l.contains))
    val plan = bulk.queryExecution.executedPlan.toString
    assert(lutShj(plan),
      "bulk mode did not plan a shuffled-hash join keyed on (query_id, sub, code)")
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(!lutShj(bcPlan),
      "broadcast mode unexpectedly planned a shuffled-hash LUT join")
  }

  test("stored-index search: disjoint batch finds its true in-index neighbors") {
    // index = %97≠0 corpus slice, batch = the %97=0 sliver as NEW queries
    // (the incremental-family convention). Ground truth: brute-force
    // cosine of each batch vector against the index side only.
    val indexSide = vectors.filter(col("vec_id") % 97 =!= 0)
    val batch = vectors.filter(col("vec_id") % 97 === 0)
    val cents = EmbeddingSim.prepared(indexSide)
      .orderBy(col("vec_id").asc).limit(8)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val index = EmbeddingSim.ivfIndex(indexSide, cents)
    val got = EmbeddingSim.ivfSearchAgainst(batch, cents, index, k = 10,
        nprobe = 2).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    // exact per-batch-vector ground truth over the index side
    val truthAgainst = EmbeddingSim.ivfSearchAgainst(batch, cents, index,
      k = 10, nprobe = 8) // nprobe = numCentroids ⇒ every cell probed ⇒ exact
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = truthAgainst.map { case (q, t) =>
      got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0) }
    val recall = recalls.sum / recalls.size
    info(f"stored-index search recall@10 (nprobe=2 vs all-cells): $recall%.2f")
    assert(recall >= 0.3, f"stored-index search recall collapsed: $recall%.2f")
    // no batch id may ever be returned as a neighbor — the index is the
    // only searchable set
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.values.flatten.forall(n => !batchIds.contains(n)),
      "a batch vector leaked into the neighbor set")
  }

  test("hierarchical IVF-PQ recall tracks flat IVF-PQ within the boundary tolerance") {
    // The hierarchy changes only WHICH cell a vector lands in (group-
    // boundary misassignment, the ivfHierTopK trade); the ADC scoring is
    // identical. So hier-PQ recall may trail flat-PQ only by that
    // misassignment rate, and widening the coarse probe must not lose
    // recall — the same pair of bounds the exact-scored hier variant pins.
    val hier = recallOf(EmbeddingSim.ivfPqHierTopK(vectors, queryPred, 10,
      fineK = 16, coarseK = 4, pcoarse = 2, nprobe = 2))
    val flat = recallOf(EmbeddingSim.ivfPqTopK(vectors, queryPred, 10,
      numCentroids = 16, nprobe = 2))
    info(f"ivfpq recall@10: flat-16 $flat%.2f, hier-16/4 $hier%.2f")
    assert(hier >= 0.05, f"hierarchical ivfpq recall collapsed: $hier%.2f")
    assert(hier >= flat - 0.25,
      f"hierarchy lost too much recall vs flat PQ: $hier%.2f vs $flat%.2f")
    val wide = recallOf(EmbeddingSim.ivfPqHierTopK(vectors, queryPred, 10,
      fineK = 16, coarseK = 4, pcoarse = 4, nprobe = 2))
    assert(wide >= hier - 0.02, "more coarse probes must not lose recall")
  }

  test("semantic dedup keeps exactly the min-id member of each identical group") {
    // Four groups of three IDENTICAL vectors on disjoint dimension blocks
    // (cross-group cosine 0): identical vectors always share a cell
    // (identical distances, deterministic tie-break), so each group must
    // collapse to its min id; nothing else may drop.
    import scala.jdk.CollectionConverters._
    val rows = (0 until 12).map { id =>
      val g = id / 3
      val emb = Array.tabulate(64)(d => if (d / 16 == g) 1.0f else 0.0f)
      org.apache.spark.sql.Row(id.toLong, emb.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val vecs = spark.createDataFrame(rows.asJava, schema)
    val out = EmbeddingSim.semanticDedup(vecs, numCentroids = 2, iters = 2,
      threshold = 0.9).collect()
    assert(out.length === 12, "one row per input vector")
    val kept = out.filter(_.getAs[Long]("is_kept") == 1L)
      .map(_.getAs[Long]("vec_id")).toSet
    assert(kept === Set(0L, 3L, 6L, 9L),
      s"expected one min-id survivor per identical group, got $kept")

    // Sampled-training scale path: centroids learned on a hash-subsample of
    // the ids (so the seed set is NOT dense from 0 — exercises the
    // TakeOrdered seeding), assignment still over everything. Identical
    // vectors still share a cell under ANY centroid set, so the survivor
    // contract is unchanged.
    val sampled = EmbeddingSim.semanticDedup(vecs, numCentroids = 2, iters = 2,
      threshold = 0.9, trainSample = 0.5).collect()
    assert(sampled.length === 12, "one row per input vector (sampled training)")
    val keptS = sampled.filter(_.getAs[Long]("is_kept") == 1L)
      .map(_.getAs[Long]("vec_id")).toSet
    assert(keptS === Set(0L, 3L, 6L, 9L),
      s"sampled training must keep the same min-id survivors, got $keptS")

    // Hierarchical assignment: identical vectors still share a cell under
    // ANY assignment (identical distances at both levels, deterministic
    // tie-breaks), so the min-id-survivor contract is unchanged even
    // though boundary vectors may land in different cells than flat.
    val hier = EmbeddingSim.semanticDedupHier(vecs, numCentroids = 4,
      iters = 2, threshold = 0.9, coarseK = 2).collect()
    assert(hier.length === 12, "one row per input vector (hier assignment)")
    val keptH = hier.filter(_.getAs[Long]("is_kept") == 1L)
      .map(_.getAs[Long]("vec_id")).toSet
    assert(keptH === Set(0L, 3L, 6L, 9L),
      s"hier assignment must keep the same min-id survivors, got $keptH")
  }

  test("kCenterSelect: hand-traced farthest-point rounds, coverage radii, early stop") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def axis(x: Float) = Array.tabulate(64)(d => if (d == 0) x else 0.0f)
    val vecs = spark.createDataFrame(Seq(
      (0L, axis(0.0f)), (1L, axis(1.0f)), (2L, axis(3.0f)), (3L, axis(2.9f)))
      .map { case (id, e) => org.apache.spark.sql.Row(id, e.toSeq) }.asJava, schema)
    // Seed = min id (v0). Farthest from {v0} is v2 (d²=3000²); then v1
    // (min stays 1000² — v2 is farther away than v0 is); then v3 (min
    // becomes 100² once v2 is chosen). Exact quantized integers.
    val out = EmbeddingSim.kCenterSelect(vecs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(out === Seq(
      (0L, 1L, 0L), (2L, 2L, 9000000L), (1L, 3L, 1000000L), (3L, 4L, 10000L)))
    // k beyond the pool stops early with dense ranks — no duplicate picks
    val short = EmbeddingSim.kCenterSelect(vecs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(short.map(_._2) === Seq(1L, 2L, 3L, 4L))
    assert(short.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
  }

  test("incremental semantic screen: replayed survivors drop, novel vectors keep, batch equals direct dominance") {
    // Store: the identical-group corpus from the batch test — four groups
    // of three identical vectors, survivors = min id per group.
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def df(rows: Seq[(Long, Array[Float])]) = spark.createDataFrame(
      rows.map { case (id, e) => org.apache.spark.sql.Row(id, e.toSeq) }.asJava,
      schema)
    def block(g: Int) = Array.tabulate(64)(d => if (d / 16 == g) 1.0f else 0.0f)
    val store = df((0 until 12).map(id => (id.toLong, block(id / 3))))
    val cents = EmbeddingSim.kmeansCentroids(store, k = 2, iters = 2)
    val surv = EmbeddingSim.semanticSurvivors(store, cents, threshold = 0.9)
    val survIds = surv.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survIds === Set(0L, 3L, 6L, 9L),
      s"store survivors must equal the batch operator's kept set: $survIds")
    // Batch: replays of every store group (survivor content AND
    // dropped-member content — both identical to a stored survivor, so
    // both must drop) plus one genuinely novel direction.
    val novel = Array.tabulate(64)(d =>
      if (d % 16 == 15) (if (d / 16 % 2 == 0) 1.0f else -1.0f) else 0.0f)
    val batch = df(Seq(
      (100L, block(0)), (101L, block(1)), (102L, block(2)), (103L, block(3)),
      (104L, novel)))
    val out = EmbeddingSim.semanticDedupAgainst(batch, cents, surv,
        threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("is_kept")).toMap
    assert(out.size === 5, "one verdict per batch vector")
    assert(Seq(100L, 101L, 102L, 103L).forall(out(_) === 0L),
      s"every replayed ε-ball content must be dominated by its stored survivor: $out")
    assert(out(104L) === 1L, s"the novel direction must survive: $out")
    // Incremental output must equal the DIRECT dominance test between the
    // batch and the store survivors under the same cell assignment — the
    // 'batch operator restricted to the store' contract the oracle pins.
    val direct = {
      val bm = EmbeddingSim.semanticDedupAgainst(batch, cents,
        surv.limit(0), threshold = 0.9) // assignment only: empty store keeps all
      val assigned = bm.select("vec_id", "cid")
      val sv = surv.select(org.apache.spark.sql.functions.col("cid"),
        org.apache.spark.sql.functions.col("q").as("sq"),
        org.apache.spark.sql.functions.col("n2").as("sn2"))
      val prepared = EmbeddingSim.prepared(batch).join(assigned, "vec_id")
      val dom = prepared.join(sv, "cid")
        .filter(EmbeddingSim.qcosine(
          EmbeddingSim.qdot(org.apache.spark.sql.functions.col("q"),
            org.apache.spark.sql.functions.col("sq")),
          org.apache.spark.sql.functions.col("n2"),
          org.apache.spark.sql.functions.col("sn2")) >= 0.9)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      prepared.select("vec_id").collect().map(_.getLong(0))
        .map(id => id -> (if (dom(id)) 0L else 1L)).toMap
    }
    assert(out === direct,
      "incremental screen must equal direct batch-vs-survivor dominance")
  }

  test("random-projection rerank recall@10 holds its floor and rises with overfetch") {
    val r4 = recallOf(EmbeddingSim.rpRerankTopK(vectors, queryPred, 10,
      overfetch = 4))
    val r8 = recallOf(EmbeddingSim.rpRerankTopK(vectors, queryPred, 10,
      overfetch = 8))
    // measured on this corpus: 0.36 / 0.44 — 3x the multi-probe LSH floor
    // on the same near-uniform (hardest-case) vectors, at 40 exact-width
    // distance evals per query instead of a bucket join
    info(f"rp-rerank recall@10: overfetch=4 $r4%.2f, overfetch=8 $r8%.2f")
    assert(r4 >= 0.25, f"rp-rerank recall collapsed: $r4%.2f")
    assert(r8 >= r4, "a wider overfetch must not lose recall")
  }

  test("randomProjection matches an independent MD5 reference and is exactly linear") {
    import spark.implicits._
    val dims = 4
    // independent reference: same Rademacher rule recomputed here
    def refWeight(h: Int, d: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$h:$d".getBytes("UTF-8"))
      if (((hex(0) >> 4) & 0xf) >= 8) 1L else -1L
    }
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, -1f, 0.5f)),
      (2L, Array(2f, 0f, 0f, 0f))   // exactly 2x vec 0
    ).toDF("vec_id", "embedding")
    val out = EmbeddingSim.randomProjection(vecs, outDims = 3, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val q = Map(0L -> Seq(1000L, 0L, 0L, 0L),
      1L -> Seq(0L, 1000L, -1000L, 500L),
      2L -> Seq(2000L, 0L, 0L, 0L))
    for (id <- q.keys; h <- 0 until 3) {
      val expect = (0 until dims).map(d => q(id)(d) * refWeight(h, d)).sum
      assert(out((id, h)) === expect, s"vec $id component $h")
    }
    // exact linearity on exactly-representable inputs: 2x vector -> 2x components
    for (h <- 0 until 3) assert(out((2L, h)) === 2L * out((0L, h)))
  }

  test("ivfPqSearchAgainst: index-only neighbors, recall floor vs exact stored-index search, bulk ≡ broadcast") {
    val indexSide = vectors.filter(col("vec_id") % 97 =!= 0)
    val batch = vectors.filter(col("vec_id") % 97 === 0)
    val cents = EmbeddingSim.prepared(indexSide)
      .orderBy(col("vec_id").asc).limit(8)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val books = EmbeddingSim.pqCodebooks(indexSide, 4, 4, iters = 1)
    val pqIdx = EmbeddingSim.ivfPqIndex(indexSide, cents, books)
    val got = EmbeddingSim.ivfPqSearchAgainst(batch, cents, books, pqIdx, 10,
      nprobe = 2).collect()
    // disjoint-batch contract: every neighbor comes from the stored index
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getAs[Long]("neighbor_id") % 97 != 0L,
      "a batch id leaked into the index-side neighbor list"))
    // ADC reorders the SAME candidate cells the exact stored-index search
    // scores (same centroids, same probes) — recall floor pins the
    // reconstruction quality, as the ivfPqTopK spec does for the self case
    val exact = EmbeddingSim.ivfSearchAgainst(batch, cents,
        EmbeddingSim.ivfIndex(indexSide, cents), 10, nprobe = 2)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val gotSets = got.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = exact.map { case (q, t) =>
      gotSets.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0) }
    val r = recalls.sum / recalls.size
    info(f"ivfpq-against recall@10 vs exact stored-index: $r%.2f")
    assert(r >= 0.05, f"compressed-index recall collapsed: $r%.2f")
    // the bulk-scoring escape is identical row-for-row here too
    val bulk = EmbeddingSim.ivfPqSearchAgainst(batch, cents, books, pqIdx, 10,
      nprobe = 2, lutBroadcast = false)
      .orderBy("query_id", "rank").collect().toSeq
    assert(bulk === got.sortBy(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))).toSeq)
  }

  test("hardNegatives bounded-top-k brute matches a driver-side exact reference, ranks and ties included") {
    // independent reference: same quantization + cosine recomputed in plain
    // Scala, ranked by (cos desc, id asc) under IEEE double ordering — the
    // exact semantics the BoundedTopKDouble rewrite must preserve from the
    // rank-window form it replaced
    val all = vectors.select("vec_id", "label", "embedding").collect().map { r =>
      val q = r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1000).toLong).toArray
      (r.getLong(0), r.getInt(1).toLong, q, q.map(x => x * x).sum)
    }
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.IeeeOrdering, Ordering.Long)
    val expected = all.filter(_._1 % 100 == 0).flatMap { case (qid, qlabel, qq, qn2) =>
      all.iterator
        .filter { case (vid, nl, _, _) => vid != qid && nl != qlabel }
        .map { case (vid, nl, v, n2) =>
          val dot = qq.zip(v).map { case (a, b) => a * b }.sum
          (vid, nl, dot.toDouble / (math.sqrt(qn2.toDouble) * math.sqrt(n2.toDouble)))
        }.toVector
        .sortBy { case (vid, _, cos) => (-cos, vid) }
        .take(5).zipWithIndex
        .map { case ((vid, nl, _), i) => (qid, vid, nl, i + 1) }
    }.toSet
    val got = EmbeddingSim.hardNegatives(vectors, queryPred, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("neg_label"), r.getAs[Int]("rank"))).toSet
    assert(got === expected)
  }

  test("hardNegatives through the IVF candidate seam: wrong-class only, candidate-contained, contiguous ranks") {
    val cand = EmbeddingSim.ivfCandidates(vectors, queryPred)
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mined = EmbeddingSim.hardNegatives(vectors, queryPred, 5,
      candidates = Some(cand)).collect()
    val labels = vectors.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(mined.nonEmpty)
    mined.foreach { r =>
      val qid = r.getAs[Long]("query_id"); val nid = r.getAs[Long]("neighbor_id")
      assert(candSet((qid, nid)), s"negative ($qid,$nid) outside the candidate seam")
      assert(labels(nid) === r.getAs[Long]("neg_label"))
      assert(labels(nid) !== labels(qid), s"same-class negative for anchor $qid")
    }
    mined.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rs.length))
    }
  }

  test("ivfDriftReport: identical stores stay quiet; a drifted batch flips the rebuild flag; an emptied cell flags") {
    import spark.implicits._
    // two tight clusters around (±1, 0, 0, 0) → 2 cells, seeds = lowest ids
    def vecsOf(ids: Range, scale: Double = 1.0) = ids.map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == 0) base else (i % 5) * 0.01) * scale))
    }.toDF("vec_id", "embedding")
    val all = vecsOf(0 until 20)
    val cents = EmbeddingSim.prepared(all)
      .orderBy(col("vec_id").asc).limit(2)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    val trainStats = graft.ops.Checkpoints.materialized(
      EmbeddingSim.ivfCellStats(EmbeddingSim.ivfIndex(all, cents), cents))
    // quiet side: the store vs its own snapshot — ratio exactly 1.0,
    // zero share shift, zero flags
    val quiet = EmbeddingSim.ivfDriftReport(trainStats, trainStats).collect()
    assert(quiet.nonEmpty)
    quiet.foreach { r =>
      assert(r.getAs[Long]("rebuild") === 0L, s"quiet cell flagged: $r")
      assert(r.getAs[Long]("dist_ratio_ppm") === 1000000L)
      assert(r.getAs[Long]("train_share_ppm") === r.getAs[Long]("cur_share_ppm"))
    }
    // drifted batch: EVEN ids (cell of centroid 0) re-embedded at 3× —
    // their cell's mean distance inflates past the 1.2× gate while the
    // odd cell stays quiet
    val drifted = vecsOf(0 until 20 by 2, scale = 3.0)
      .unionByName(vecsOf(1 until 20 by 2))
    val curStats = EmbeddingSim.ivfCellStats(
      EmbeddingSim.ivfIndex(drifted, cents), cents)
    val rep = EmbeddingSim.ivfDriftReport(curStats, trainStats).collect()
      .map(r => r.getAs[Long]("cid") -> r).toMap
    assert(rep(0L).getAs[Long]("rebuild") === 1L, s"drifted cell quiet: ${rep(0L)}")
    assert(rep(0L).getAs[Long]("dist_ratio_ppm") > 1200000L)
    assert(rep(1L).getAs[Long]("rebuild") === 0L, s"undrifted cell flagged: ${rep(1L)}")
    // emptied cell: drop every odd id → cell 1 vanishes from the store
    val emptied = EmbeddingSim.ivfCellStats(
      EmbeddingSim.ivfIndex(all.filter(col("vec_id") % 2 === 0), cents), cents)
    val rep2 = EmbeddingSim.ivfDriftReport(emptied, trainStats).collect()
      .map(r => r.getAs[Long]("cid") -> r).toMap
    assert(rep2(1L).getAs[Long]("cur_n") === 0L)
    assert(rep2(1L).getAs[Long]("rebuild") === 1L, "emptied cell not flagged")
  }

  test("BoundedTopKDouble: sorted bounded buffer, ±0.0 ties fall to id, merge ≡ reduce") {
    val agg = graft.functions.BoundedTopKDouble(3)
    val items = Seq((1.5, 10L), (0.0, 7L), (-0.0, 3L), (1.5, 2L), (-2.0, 9L))
    val b = items.foldLeft(agg.zero)(agg.reduce)
    // asc order: -2.0 first; -0.0 == 0.0 under primitive compare → id order
    assert(agg.finish(b).toSeq === Seq(9L, 3L, 7L))
    val (l, r) = items.splitAt(2)
    val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(m).toSeq === agg.finish(b).toSeq)
  }
}
