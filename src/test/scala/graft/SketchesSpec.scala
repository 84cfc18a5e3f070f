package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sketches

class SketchesSpec extends AnyFunSuite with SparkFixture {

  /** Driver-side reference of [[graft.ops.Sampling.hashKey]]: first 8 hex
    * chars of md5 as a long — used to hand-compute expected sketches. */
  private def hk(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  test("groups under k report exact hash-distinct counts (duplicates collapsed)") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "z"))
      .toDF("g", "key")
    val out = Sketches.kmvDistinct(df, "g", "key", k = 8).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("est_distinct"))).toMap
    assert(out === Map("a" -> (2L, 2L), "b" -> (1L, 1L)))
  }

  test("estimator matches the hand-computed k-th hash and lands near truth") {
    import spark.implicits._
    val n = 500
    val df = (1 to n).map(i => ("g", s"key_$i")).toDF("g", "key")
    val k = 16
    val row = Sketches.kmvDistinct(df, "g", "key", k).collect().head
    val sorted = (1 to n).map(i => hk(s"key_$i")).distinct.sorted
    val kth = sorted(k - 1)
    assert(row.getAs[Long]("kth_hash") === kth)
    assert(row.getAs[Long]("n_kept") === k.toLong)
    val est = row.getAs[Long]("est_distinct")
    assert(est === (k - 1).toLong * 4294967296L / kth)
    // k=16 → relative σ ≈ 1/√(k−2) ≈ 27%; 2.5σ band around the truth
    assert(est > n / 2 && est < n * 2, s"estimate $est far from $n")
  }

  test("sketch is mergeable: bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B))") {
    val k = 32
    val a = (1 to 300).map(i => hk(s"a_$i")).distinct.sorted
    val b = (1 to 300).map(i => hk(s"b_$i")).distinct.sorted
    val whole = (a ++ b).distinct.sorted.take(k)
    val merged = (a.take(k) ++ b.take(k)).distinct.sorted.take(k)
    assert(whole === merged)
  }

  test("kmvMergeAgainst updates a stored sketch: merged estimates equal the whole-corpus sketch, one-sided groups pass through") {
    import spark.implicits._
    val k = 16
    // group "g": 300 keys split 2/3-1/3 across store and batch with overlap;
    // "only_store" / "only_batch": groups seen by exactly one side
    val storeDf = ((1 to 200).map(i => ("g", s"key_$i")) ++
      (1 to 50).map(i => ("only_store", s"s_$i"))).toDF("grp", "key")
    val batchDf = ((101 to 300).map(i => ("g", s"key_$i")) ++
      (1 to 5).map(i => ("only_batch", s"b_$i"))).toDF("grp", "key")
    val merged = graft.ops.Sketches.kmvMergeAgainst(
        graft.ops.Sketches.kmvSketch(storeDf, "grp", "key", k),
        graft.ops.Sketches.kmvSketch(batchDf, "grp", "key", k),
        "grp", k).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
          r.getAs[Long]("est_distinct"),
          r.getSeq[Long](r.fieldIndex("sk")).toVector)).toMap
    // mergeability identity: merged == sketch of the union, per group
    val whole = graft.ops.Sketches.kmvDistinct(
        storeDf.union(batchDf), "grp", "key", k).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
          r.getAs[Long]("est_distinct"))).toMap
    assert(merged.keySet === Set("g", "only_store", "only_batch"))
    for ((g, (n, kth, est, sk)) <- merged) {
      assert((n, kth, est) === whole(g), s"group $g diverged from whole-corpus sketch")
      assert(sk === sk.sorted && sk.size === n, s"group $g sketch not ascending bottom-$n")
    }
    // the small one-sided group stays on the exact path
    assert(merged("only_batch")._3 === 5L)
  }

  test("quantile sketch: groups under k are EXACT order statistics; merged halves equal the whole-corpus sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val k = 64
    // group "small": 21 values 0..2000 cents (n < k → exact path):
    // p50 over 0,100,...,2000 must be exactly 1000
    val small = (0 to 20).map(i => ("small", 9000L + i, i * 100L))
    // group "big": 500 values (n > k → sampled path)
    val big = (1 to 500).map(i => ("big", i.toLong, (i * 7 % 500) * 100L))
    val df = (small ++ big).toDF("grp", "row_id", "cents")
    val whole = graft.ops.Sketches.kmvQuantiles(
        graft.ops.Sketches.kmvQuantileSketch(df, "grp", "row_id",
          col("cents") * lit(1), k),
        "grp", Seq(0, 50, 100)).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("p0_cents"),
          r.getAs[Long]("p50_cents"), r.getAs[Long]("p100_cents"))).toMap
    assert(whole("small") === ((21L, 0L, 1000L, 2000L)))
    val (nBig, loBig, midBig, hiBig) = whole("big")
    assert(nBig === k.toLong)
    // uniform 0..49900: the k-sample median within a generous 4σ band
    assert(midBig > 10000L && midBig < 40000L,
      s"sampled median $midBig far from ~25000")
    assert(loBig >= 0L && hiBig <= 49900L)
    // merge identity: half-sketches merged == whole-corpus sketch
    val halves = graft.ops.Sketches.kmvQuantiles(
        graft.ops.Sketches.kmvMergeSketches(
          graft.ops.Sketches.kmvQuantileSketch(
            df.filter(col("row_id") % 2 === 0), "grp", "row_id",
            col("cents") * lit(1), k),
          graft.ops.Sketches.kmvQuantileSketch(
            df.filter(col("row_id") % 2 === 1), "grp", "row_id",
            col("cents") * lit(1), k),
          "grp", k),
        "grp", Seq(0, 50, 100)).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("p0_cents"),
          r.getAs[Long]("p50_cents"), r.getAs[Long]("p100_cents"))).toMap
    assert(halves === whole)
  }

  test("kmvUpdateStream folds staged micro-batches into a versioned store equal to the whole-corpus sketch; warm start resumes; replay is absorbed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val k = 16
    val storeDir = "target/test_kmv_update_store"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(storeDir))
    def run(stages: Seq[org.apache.spark.sql.DataFrame], inDir: String): Unit = {
      val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages, inDir)
      val q = graft.streaming.StreamOps.kmvUpdateStream(
          in, "grp", "key", k, storeDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      Sketches.kmvSketch(df, "grp", "key", k).collect()
        .map(r => r.getString(0) ->
          r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    def storeNow() = graft.streaming.StreamOps.kmvStoreRead(spark, storeDir)
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    // cold stream: three staged batches with overlap and one-sided groups
    val s1 = (1 to 120).map(i => ("g", s"k_$i")).toDF("grp", "key")
    val s2 = ((61 to 180).map(i => ("g", s"k_$i")) ++
      (1 to 5).map(i => ("solo", s"s_$i"))).toDF("grp", "key")
    val s3 = (121 to 240).map(i => ("g", s"k_$i")).toDF("grp", "key")
    run(Seq(s1, s2, s3), "target/test_kmv_update_in1")
    assert(storeNow() === sketchOf(s1.union(s2).union(s3)),
      "three-batch fold diverged from the whole-corpus sketch")
    // warm start: a second stream on the SAME store continues the fold
    val s4 = (200 to 320).map(i => ("g", s"k_$i")).toDF("grp", "key")
    run(Seq(s4), "target/test_kmv_update_in2")
    assert(storeNow() === sketchOf(s1.union(s2).union(s3).union(s4)),
      "warm-started fold diverged from the whole-corpus sketch")
    // retry idempotence is the sketch algebra's: re-merging an absorbed
    // batch changes nothing (set semantics of DISTINCT + array_union)
    val before = storeNow()
    val remerged = Sketches.kmvMergeSketches(
        graft.streaming.StreamOps.kmvStoreRead(spark, storeDir),
        Sketches.kmvSketch(s4, "grp", "key", k), "grp", k).collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    assert(remerged === before, "replayed batch was not absorbed")
  }

  test("store compaction retains the newest keepLast committed versions; reads survive; crashed passes are swept; counting folds keep their retry prior") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val k = 16
    val storeDir = "target/test_kmv_compact_store"
    graft.streaming.Ingest.deleteRecursively(storeDir)
    def committed() = Option(new java.io.File(storeDir).listFiles).toSeq
      .flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.drop(1).toLong).sorted
    def allDirs() = Option(new java.io.File(storeDir).listFiles).toSeq
      .flatten.filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val stages = Seq(
      (1 to 60).map(i => ("g", s"k_$i")).toDF("grp", "key"),
      (41 to 120).map(i => ("g", s"k_$i")).toDF("grp", "key"),
      (101 to 180).map(i => ("g", s"k_$i")).toDF("grp", "key"),
      (161 to 240).map(i => ("g", s"k_$i")).toDF("grp", "key"))
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages,
      "target/test_kmv_compact_in")
    val q = graft.streaming.StreamOps.kmvUpdateStream(
        in, "grp", "key", k, storeDir, compactKeepLast = 2)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // four folds ran; compaction after each leaves the newest two
    assert(committed() === Seq(2L, 3L),
      s"expected versions v2,v3 after keepLast=2 fold, got ${committed()}")
    // the compacted latest reads exactly like the whole-corpus sketch
    val whole = Sketches.kmvSketch(
        stages.reduce(_ union _), "grp", "key", k).collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    def storeNow() = graft.streaming.StreamOps.kmvStoreRead(spark, storeDir)
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    assert(storeNow() === whole, "compacted store diverged from the whole sketch")
    // read-during-compaction: a reader that pinned the latest version
    // before a further compaction pass still reads it (latest is retained)
    val pinned = graft.streaming.StreamOps.kmvStoreRead(spark, storeDir)
    assert(graft.streaming.StreamOps
      .sketchStoreCompact(spark, storeDir, keepLast = 1) === Seq(2L))
    assert(pinned.collect().nonEmpty, "pinned latest version was deleted")
    assert(committed() === Seq(3L))
    // crashed-compaction replay: simulate a crash BETWEEN the marker
    // delete and the directory delete — the leftover dir is marker-less,
    // so the walker never surfaces it and the next pass sweeps it
    val stale = new java.io.File(storeDir, "v1")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(storeDir, "v1", "part-junk.parquet"), "x")
    assert(committed() === Seq(3L), "marker-less dir leaked into the walk")
    assert(storeNow() === whole)
    assert(graft.streaming.StreamOps
      .sketchStoreCompact(spark, storeDir, keepLast = 1) === Seq(1L))
    assert(allDirs() === Seq(3L), "crashed-compaction residue not swept")
    // a counting fold must keep its retry prior: keepLast 1 is rejected
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.cmsUpdateStream(
        in, "grp", "key", 2, 64, storeDir, compactKeepLast = 1)
    }
  }

  test("sliding distinct from daily sketches equals the direct window sketch; calendar gaps window by date, not by row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // group "g": days 1,2,3 then a GAP to day 10 — the day-10 window
    // (3 trailing days) must cover day 10 alone, not reach across the
    // gap to day 3 the way a ROWS frame would
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:${i % 60}%02d")
    val rows =
      (1 to 50).map(i => ("g", ts(1, i), s"u_$i")) ++
        (1 to 50).map(i => ("g", ts(2, i), s"u_${i + 25}")) ++
        (1 to 50).map(i => ("g", ts(3, i), s"u_${i + 50}")) ++
        (1 to 10).map(i => ("g", ts(10, i), s"w_$i"))
    val df = rows.toDF("grp", "ts", "key")
    val k = 16
    val out = Sketches.kmvSlidingDistinct(df, "grp", "ts", "key", k,
        windowDays = 3).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
          r.getAs[Long]("est_distinct"))).toMap
    // reference: the direct sketch of each window's raw keys — the
    // mergeability identity says the sliding re-cut union must equal it
    def direct(days: Seq[Int]) = {
      val sub = rows.filter { case (_, t, _) =>
        days.contains(t.toLocalDateTime.getDayOfMonth) }
        .map { case (g, _, key) => (g, key) }.toDF("grp", "key")
      val r = Sketches.kmvDistinct(sub, "grp", "key", k).collect().head
      (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"),
        r.getAs[Long]("est_distinct"))
    }
    assert(out("2024-03-01") === direct(Seq(1)))
    assert(out("2024-03-02") === direct(Seq(1, 2)))
    assert(out("2024-03-03") === direct(Seq(1, 2, 3)))
    // the gap day windows ONLY itself (10 distinct keys, exact path)
    assert(out("2024-03-10") === direct(Seq(10)))
    assert(out("2024-03-10")._1 === 10L)
  }

  test("count-min sketch: point reads exact without collisions, overestimate-only under forced collisions, absent keys floor at 0") {
    import spark.implicits._
    // 3 keys with frequencies 5/3/1 — at w=1024, d=4 a full 4-way
    // collision among 3 keys is effectively impossible, so reads are EXACT
    val rows = Seq.fill(5)(("g", "a")) ++ Seq.fill(3)(("g", "b")) ++ Seq(("g", "c"))
    val df = rows.toDF("grp", "key")
    val probes = Seq(("g", "a"), ("g", "b"), ("g", "c"), ("g", "absent"))
      .toDF("grp", "key")
    val est = Sketches.cmsEstimate(
        Sketches.cmsSketch(df, "grp", "key", depth = 4, width = 1024),
        probes, "grp", "key", depth = 4, width = 1024).collect()
      .map(r => r.getString(1) -> r.getAs[Long]("est_cnt")).toMap
    assert(est === Map("a" -> 5L, "b" -> 3L, "c" -> 1L, "absent" -> 0L))
    // forced collisions: width=2, depth=1 squeezes 3 keys into 2 cells —
    // the classic CMS degradation. The invariant that survives any hash
    // layout (and any engine) is overestimate-only: est >= true count.
    val truth = Map("a" -> 5L, "b" -> 3L, "c" -> 1L, "absent" -> 0L)
    Sketches.cmsEstimate(
        Sketches.cmsSketch(df, "grp", "key", depth = 1, width = 2),
        probes, "grp", "key", depth = 1, width = 2).collect()
      .foreach { r =>
        assert(r.getAs[Long]("est_cnt") >= truth(r.getString(1)),
          s"CMS under-estimated ${r.getString(1)}")
      }
  }

  test("sliding CMS: windowed cells equal the direct window sketch exactly; calendar gaps window by date") {
    import spark.implicits._
    // days 1,2,3 then a GAP to day 10 (3-day trailing window): the
    // windowed sum at each day must equal cmsSketch over that window's
    // raw rows EXACTLY (counts commute), and day 10 must cover itself
    // alone, not reach across the gap
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:${i % 60}%02d")
    val rows =
      (1 to 30).map(i => ("g", ts(1, i), s"u_${i % 7}")) ++
        (1 to 30).map(i => ("g", ts(2, i), s"u_${i % 5}")) ++
        (1 to 30).map(i => ("g", ts(3, i), s"u_${i % 3}")) ++
        (1 to 8).map(i => ("g", ts(10, i), s"w_${i % 2}"))
    val df = rows.toDF("grp", "ts", "key")
    val (depth, width) = (3, 64)
    val out = Sketches.cmsSlidingSketch(df, "grp", "ts", "key", depth,
        width, windowDays = 3).collect()
      .groupBy(_.getAs[java.sql.Date]("day").toString)
      .map { case (day, rs) =>
        day -> rs.map(r => (r.getAs[Int]("d"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("cnt")).toMap
      }
    def direct(days: Seq[Int]) = Sketches.cmsSketch(
        rows.filter { case (_, t, _) =>
          days.contains(t.toLocalDateTime.getDayOfMonth) }
          .map { case (g, _, key) => (g, key) }.toDF("grp", "key"),
        "grp", "key", depth, width).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    assert(out("2024-03-01") === direct(Seq(1)))
    assert(out("2024-03-02") === direct(Seq(1, 2)))
    assert(out("2024-03-03") === direct(Seq(1, 2, 3)))
    assert(out("2024-03-10") === direct(Seq(10)),
      "gap day must window only itself")
    // the windowed read: estimates are >= the true trailing-window count
    // (overestimate-only), and exact here (width 64 >> 9 keys)
    val probes = Seq(("g", "u_1"), ("g", "w_1"), ("g", "absent"))
      .toDF("grp", "key")
    val est = Sketches.cmsSlidingEstimate(
        Sketches.cmsSlidingSketch(df, "grp", "ts", "key", depth, width, 3),
        probes, "grp", "key", depth, width).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getString(2)) ->
        r.getAs[Long]("est_cnt")).toMap
    // u_1 appears on day1 at i%7==1 (5 times: i=1,8,15,22,29) and day2 at
    // i%5==1 (6 times: 1,6,11,16,21,26); day3 i%3==1 (10 times)
    assert(est(("2024-03-01", "u_1")) === 5L)
    assert(est(("2024-03-02", "u_1")) === 11L)
    assert(est(("2024-03-03", "u_1")) === 21L)
    assert(est(("2024-03-10", "u_1")) === 0L, "gap day must not see old rows")
    assert(est(("2024-03-10", "w_1")) === 4L)
    assert(est(("2024-03-01", "absent")) === 0L)
  }

  test("count-min merge is the whole-corpus sketch exactly (counts commute)") {
    import spark.implicits._
    val rows = (1 to 400).map(i => ("g", s"k_${i % 37}")) ++
      (1 to 100).map(i => ("h", s"k_${i % 11}"))
    def cells(store: org.apache.spark.sql.DataFrame) = store.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    val whole = cells(Sketches.cmsSketch(rows.toDF("grp", "key"),
      "grp", "key", 4, 64))
    val merged = cells(Sketches.cmsMerge(
      Sketches.cmsSketch(rows.take(250).toDF("grp", "key"), "grp", "key", 4, 64),
      Sketches.cmsSketch(rows.drop(250).toDF("grp", "key"), "grp", "key", 4, 64),
      "grp"))
    assert(merged === whole,
      "cell-sum merge diverged from the whole-corpus sketch")
  }

  test("cmsUpdateStream folds staged micro-batches into the whole-corpus sketch; batchId versioning makes a retry rewrite its own version") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_cms_update_store"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(storeDir))
    val s1 = (1 to 150).map(i => ("g", s"k_${i % 13}")).toDF("grp", "key")
    val s2 = (1 to 90).map(i => ("g", s"k_${i % 7}")).toDF("grp", "key")
    val s3 = ((1 to 60).map(i => ("g", s"k_${i % 5}")) ++
      (1 to 20).map(i => ("h", s"x_${i % 3}"))).toDF("grp", "key")
    val in = graft.streaming.Ingest.stageOrderedFiles(spark,
      Seq(s1, s2, s3), "target/test_cms_update_in")
    val q = graft.streaming.StreamOps.cmsUpdateStream(
        in, "grp", "key", depth = 4, width = 64, storeDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    val folded = cells(
      graft.streaming.StreamOps.sketchStoreRead(spark, storeDir))
    val whole = cells(Sketches.cmsSketch(s1.union(s2).union(s3),
      "grp", "key", 4, 64))
    assert(folded === whole,
      "streamed cell-sum fold diverged from the whole-corpus sketch")
    // the commit-unit property behind versionByBatchId: what a retry of
    // the LAST batch would rewrite — merge(prior version, batch sketch) —
    // is exactly the version it already wrote; last-writer-wins cannot
    // double any count
    val rewrite = cells(Sketches.cmsMerge(
      spark.read.parquet(s"$storeDir/v1"),
      Sketches.cmsSketch(s3, "grp", "key", 4, 64), "grp"))
    assert(rewrite === folded, "a replayed final batch would change the store")
  }

  test("misra-gries summary: canonical prune by the (k+1)-th largest count; exact regime when distinct keys fit") {
    import spark.implicits._
    // hand example, k=2: counts {x:5, y:3, z:1} → d = 3rd largest = 1 →
    // {x:4, y:2}, err 1
    val df = (Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq("z"))
      .map(("g", _)).toDF("grp", "key")
    val out = Sketches.mgSummary(df, "grp", "key", k = 2).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("err") === 1L)
    assert(r.getMap[String, Long](r.fieldIndex("counters")).toMap ===
      Map("x" -> 4L, "y" -> 2L))
    // exact regime: 3 distinct keys fit k=8 → err 0, counters = exact counts
    val exact = Sketches.mgSummary(df, "grp", "key", k = 8).collect().head
    assert(exact.getAs[Long]("err") === 0L)
    assert(exact.getMap[String, Long](exact.fieldIndex("counters")).toMap ===
      Map("x" -> 5L, "y" -> 3L, "z" -> 1L))
  }

  test("misra-gries summary keeps a fully-pruned group alive (empty counters, live err)") {
    import spark.implicits._
    // 4 keys all with count 3 and k=2: d = 3rd largest = 3, nothing is
    // strictly greater → zero candidates, but the group row must survive
    // with err = 3 or the merge would understate the error budget
    val df = (1 to 4).flatMap(i => Seq.fill(3)(s"k$i"))
      .map(("g", _)).toDF("grp", "key")
    val out = Sketches.mgSummary(df, "grp", "key", k = 2).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("err") === 3L)
    assert(r.getMap[String, Long](r.fieldIndex("counters")).isEmpty)
  }

  test("misra-gries merge: MG contract holds (est ≤ true ≤ est + err), heavy keys survive, one-sided groups coalesce err 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val k = 8
    // Zipf-ish corpus: key i appears ~ 600/i times; split by a row index
    val rows = (1 to 40).flatMap(i => (1 to 600 / i).map(j => (i, j)))
      .zipWithIndex
      .map { case ((i, _), idx) => ("g", s"key_$i", idx) } ++
      (1 to 5).map(i => ("solo", s"s_$i", i)) // one-sided group (even idx only)
    val df = rows.toDF("grp", "key", "idx")
    val merged = Sketches.mgMerge(
        Sketches.mgSummary(df.filter(col("idx") % 2 === 0), "grp", "key", k),
        Sketches.mgSummary(df.filter(col("idx") % 2 === 1), "grp", "key", k),
        "grp", k).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("err"),
          r.getMap[String, Long](r.fieldIndex("counters")).toMap)).toMap
    val truth = rows.filter(_._1 == "g").groupBy(_._2).map { case (kk, v) =>
      kk -> v.size.toLong }
    val (err, counters) = merged("g")
    assert(counters.size <= k)
    assert(err > 0L)
    for ((kk, est) <- counters) {
      val t = truth(kk)
      assert(est <= t && t <= est + err,
        s"MG contract broken for $kk: est $est, true $t, err $err")
    }
    // absent keys are bounded by err too
    for ((kk, t) <- truth if !counters.contains(kk))
      assert(t <= err, s"absent key $kk has true count $t > err $err")
    // heavy-hitter guarantee: every key with true > err is present
    for ((kk, t) <- truth if t > err)
      assert(counters.contains(kk), s"heavy key $kk (true $t > err $err) missing")
    // the one-sided group passes through with its own err (other side
    // contributes a coalesced 0, its 5 singletons fit k exactly)
    assert(merged("solo") === ((0L,
      (1 to 5).map(i => s"s_$i" -> 1L).toMap)))
  }

  test("misra-gries exact-regime merge equals whole-corpus counts; mgTopK ranks deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val k = 16
    // few distinct keys (≤ k on both sides and combined): the merge is
    // EXACT — identical to whole-corpus counts with err 0
    val rows = (1 to 200).map(i => ("g", s"k_${i % 6}", i))
    val df = rows.toDF("grp", "key", "idx")
    val whole = Sketches.mgSummary(df, "grp", "key", k).collect().head
    val merged = Sketches.mgMerge(
        Sketches.mgSummary(df.filter(col("idx") % 2 === 0), "grp", "key", k),
        Sketches.mgSummary(df.filter(col("idx") % 2 === 1), "grp", "key", k),
        "grp", k).collect().head
    assert(merged.getAs[Long]("err") === 0L)
    assert(merged.getMap[String, Long](merged.fieldIndex("counters")).toMap ===
      whole.getMap[String, Long](whole.fieldIndex("counters")).toMap)
    // ranked read: est desc, key asc — i ∈ 1..200 mod 6 puts 34 on k_1/k_2
    // (the two leftover residues) and 33 on the rest; ties break key-asc
    val top = Sketches.mgTopK(
        Sketches.mgSummary(df, "grp", "key", k), "grp", kOut = 4).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("key"),
        r.getAs[Long]("est_cnt"), r.getAs[Long]("ub_cnt")))
    assert(top.toSeq === Seq((1L, "k_1", 34L, 34L), (2L, "k_2", 34L, 34L),
      (3L, "k_0", 33L, 33L), (4L, "k_3", 33L, 33L)))
  }

  test("sliding quantiles from daily sketches equal the direct window sketch; gap days window by date; exact regime is exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:${i % 60}%02d")
    // 3-day windows over days 1,2,3 then a GAP to day 10; values i·100
    // cents keyed by a unique row id — day 10 has 11 values 0..1000
    val rows =
      (1 to 60).map(i => ("g", ts(1, i), 1000L + i, (i % 20) * 100L)) ++
        (1 to 60).map(i => ("g", ts(2, i), 2000L + i, (i % 30) * 100L)) ++
        (1 to 60).map(i => ("g", ts(3, i), 3000L + i, (i % 40) * 100L)) ++
        (0 to 10).map(i => ("g", ts(10, i), 9000L + i, i * 100L))
    val df = rows.toDF("grp", "ts", "row_id", "cents")
    val k = 32
    val out = Sketches.kmvSlidingQuantiles(df, "grp", "ts", "row_id",
        col("cents") * lit(1), k, windowDays = 3, Seq(0, 50, 100)).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("p0_cents"),
          r.getAs[Long]("p50_cents"), r.getAs[Long]("p100_cents"))).toMap
    // reference: the direct quantile sketch of each window's raw rows —
    // the mergeability identity on packed words
    def direct(days: Seq[Int]) = {
      val sub = rows.filter { case (_, t, _, _) =>
        days.contains(t.toLocalDateTime.getDayOfMonth) }
        .map { case (g, _, id, c) => (g, id, c) }
        .toDF("grp", "row_id", "cents")
      val r = Sketches.kmvQuantiles(
        Sketches.kmvQuantileSketch(sub, "grp", "row_id",
          col("cents") * lit(1), k), "grp", Seq(0, 50, 100)).collect().head
      (r.getAs[Long]("n_kept"), r.getAs[Long]("p0_cents"),
        r.getAs[Long]("p50_cents"), r.getAs[Long]("p100_cents"))
    }
    assert(out("2024-03-01") === direct(Seq(1)))
    assert(out("2024-03-02") === direct(Seq(1, 2)))
    assert(out("2024-03-03") === direct(Seq(1, 2, 3)))
    // the gap day windows ONLY itself — 11 rows < k is the EXACT path:
    // min 0, median 500, max 1000 of 0,100,...,1000
    assert(out("2024-03-10") === ((11L, 0L, 500L, 1000L)))
  }

  test("sliding misra-gries: exact regime equals true windowed counts; gap days isolate; MG contract holds under pruning") {
    import spark.implicits._
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:${i % 60}%02d")
    // EXACT regime (3 distinct keys << k): day1 a×3 b×1, day2 a×2 c×4,
    // then a GAP to day 9 (b×5) — 3-day windows
    val rows =
      (1 to 3).map(i => ("g", ts(1, i), "a")) ++ Seq(("g", ts(1, 4), "b")) ++
        (1 to 2).map(i => ("g", ts(2, i), "a")) ++
        (1 to 4).map(i => ("g", ts(2, i + 10), "c")) ++
        (1 to 5).map(i => ("g", ts(9, i), "b"))
    val out = Sketches.mgSlidingTopK(rows.toDF("grp", "ts", "key"),
        "grp", "ts", "key", k = 8, windowDays = 3, kOut = 8).collect()
      .groupBy(_.getAs[java.sql.Date]("day").toString)
      .map { case (d, rs) => d -> rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("est_cnt"),
          r.getAs[Long]("ub_cnt"))).toSeq }
    // every daily summary is exact (err 0) and the one-prune merge of
    // exact summaries is exact: windowed counts, ranked est desc/key asc
    assert(out("2024-03-01") === Seq(("a", 3L, 3L), ("b", 1L, 1L)))
    assert(out("2024-03-02") === Seq(("a", 5L, 5L), ("c", 4L, 4L), ("b", 1L, 1L)))
    assert(out("2024-03-09") === Seq(("b", 5L, 5L)),
      "gap day must window only itself")
    // PRUNED regime: 12 keys on k=2 over two days in one window — the MG
    // contract must survive the window merge: est ≤ true ≤ ub, and the
    // dominant key (true 40 > any possible err) is rank 1 both days
    val zipf = (1 to 12).flatMap(kk => (1 to (if (kk == 1) 20 else 14 - kk))
      .map(j => ("h", ts(j % 2 + 3, j), s"k_$kk")))
    val truth = zipf.groupBy(_._3).map { case (kk, v) => kk -> v.size.toLong }
    val pruned = Sketches.mgSlidingTopK(zipf.toDF("grp", "ts", "key"),
        "grp", "ts", "key", k = 2, windowDays = 3, kOut = 2).collect()
      .filter(_.getAs[java.sql.Date]("day").toString == "2024-03-04")
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("est_cnt"),
        r.getAs[Long]("ub_cnt")))
    // day 4's window covers both active days (3 and 4) = the whole corpus
    assert(pruned.nonEmpty && pruned.head._1 === "k_1",
      s"dominant key not rank 1: ${pruned.toSeq}")
    for ((kk, est, ub) <- pruned) {
      val t = truth(kk)
      assert(est <= t && t <= ub, s"windowed MG contract broken for $kk: " +
        s"est $est, true $t, ub $ub")
    }
  }

  test("MG streaming fold equals the sequential driver-side merge; batchId versioning makes a retry rewrite its own version") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val k = 4
    val storeDir = "target/test_mg_update_store"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(storeDir))
    // Zipf-ish batches with churn so the prune is active at k=4
    def batch(seed: Int) = (1 to 10).flatMap(i =>
      (1 to (12 - i + seed % 3)).map(_ => ("g", s"k_${(i + seed) % 8}")))
      .toDF("grp", "key")
    val bs = Seq(batch(0), batch(1), batch(5))
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, bs,
      "target/test_mg_update_in")
    val q = graft.streaming.StreamOps.sketchUpdateStream(in, storeDir,
        b => Sketches.mgSummary(b, "grp", "key", k),
        (store, b) => Sketches.mgMerge(store, b, "grp", k),
        versionByBatchId = true)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def summap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("err"),
        r.getMap[String, Long](r.fieldIndex("counters")).toMap)).toMap
    val folded = summap(
      graft.streaming.StreamOps.sketchStoreRead(spark, storeDir))
    // reference: the same fold run directly (the sequential MG merge is
    // the DEFINED semantics — MG folds are not whole-corpus identities)
    val direct = summap(bs.map(Sketches.mgSummary(_, "grp", "key", k))
      .reduce(Sketches.mgMerge(_, _, "grp", k)))
    assert(folded === direct,
      "streamed MG fold diverged from the sequential driver-side merge")
    // retry commit unit: re-merging the LAST batch against v1 must equal
    // the v2 the stream wrote — last-writer-wins cannot double estimates
    val rewrite = summap(Sketches.mgMerge(
      spark.read.parquet(s"$storeDir/v1"),
      Sketches.mgSummary(bs(2), "grp", "key", k), "grp", k))
    assert(rewrite === folded, "a replayed final batch would change the store")
  }

  test("IVF index streaming fold equals the whole-corpus index under fixed centroids; warm start resumes via checkpoint; retry rewrites its own version; cold replay throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_ivf_update_store"
    val ckptDir = "target/test_ivf_update_ckpt"
    val inDir = "target/test_ivf_update_in"
    Seq(storeDir, ckptDir).foreach(graft.streaming.Ingest.deleteRecursively)
    // deterministic 4-dim corpus spread around 3 seed centroids
    def vecsOf(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5) * 0.1))
    }.toDF("vec_id", "embedding")
    val all = vecsOf(0 until 36)
    val cents = graft.ops.EmbeddingSim.prepared(all)
      .orderBy(col("vec_id").asc).limit(3)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    def indexMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getSeq[Long](r.fieldIndex("q")).toVector,
          r.getAs[Long]("n2"))).toMap
    val whole = indexMap(graft.ops.EmbeddingSim.ivfIndex(all, cents))
    // stage three micro-batches, then WITHHOLD the third file so run 1
    // processes batches 0-1 and run 2 (same checkpoint) warm-starts on it
    val stages = Seq(vecsOf(0 until 12), vecsOf(12 until 24),
      vecsOf(24 until 36))
    graft.streaming.Ingest.stageOrderedFiles(spark, stages, inDir): Unit
    val third = new java.io.File(inDir, "0002.parquet")
    val aside = new java.io.File(inDir + "_aside")
    assert(third.renameTo(aside))
    def run(): Unit = {
      val schema = spark.read.parquet(s"$inDir/0000.parquet").schema
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamOps.ivfIndexUpdateStream(
          in, cents, storeDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    def storeNow() = indexMap(
      graft.streaming.StreamOps.sketchStoreRead(spark, storeDir))
    assert(storeNow() === indexMap(graft.ops.EmbeddingSim.ivfIndex(
        stages(0).union(stages(1)), cents)),
      "two-batch fold diverged from the two-batch index")
    // warm start: restore the third file, resume from the SAME checkpoint
    assert(aside.renameTo(third))
    run()
    assert(storeNow() === whole,
      "warm-started fold diverged from the whole-corpus index")
    // retry commit unit: re-running the LAST batch's fold body (read the
    // prior version, merge, overwrite its own version) leaves the store
    // unchanged — union never double-appends under batchId versioning
    val versions = Option(new java.io.File(storeDir).listFiles).toSeq
      .flatten.filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val (prior, last) = (versions(versions.size - 2), versions.last)
    graft.ops.EmbeddingSim.ivfIndex(stages(2), cents)
      .unionByName(spark.read.parquet(s"$storeDir/v$prior"))
      .write.mode("overwrite").parquet(s"$storeDir/v$last")
    assert(storeNow() === whole, "a replayed final batch changed the store")
    // cold replay (fresh checkpoint, batchId 0 under committed versions)
    // must throw, not silently double-append the corpus
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val in2 = graft.streaming.Ingest.stageOrderedFiles(spark,
        Seq(vecsOf(0 until 12)), "target/test_ivf_update_in2")
      val q = graft.streaming.StreamOps.ivfIndexUpdateStream(
          in2, cents, storeDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("cold replay")),
      s"expected the cold-replay guard, got: ${rootMessages(e).mkString(" | ")}")
  }

  test("hier IVF index streaming fold equals the whole-corpus hier index under fixed two-level geometry; search against the folded store equals search against the one-shot build") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_ivf_hier_update_store"
    val inDir = "target/test_ivf_hier_update_in"
    graft.streaming.Ingest.deleteRecursively(storeDir)
    // deterministic 4-dim corpus; 6 fine cells under 2 coarse groups
    def vecsOf(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5) * 0.1))
    }.toDF("vec_id", "embedding")
    val all = vecsOf(0 until 36)
    val (coarse, fineT) = graft.ops.EmbeddingSim.hierCentroids(
      graft.ops.EmbeddingSim.prepared(all), fineK = 6, coarseK = 2)
    def indexMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getSeq[Long](r.fieldIndex("q")).toVector,
          r.getAs[Long]("n2"))).toMap
    val whole = indexMap(
      graft.ops.EmbeddingSim.ivfHierIndex(all, coarse, fineT))
    // both assignment levels must be exercised: the cells the corpus
    // actually uses must span MORE THAN ONE COARSE GROUP (review r20 —
    // multiple fine cells under a single parent would never exercise
    // the coarse stage in the fold ≡ whole equality)
    val cellsUsed = whole.values.map(_._1).toSet
    val parentOf = fineT.collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Long]("gid")).toMap
    val groupsUsed = cellsUsed.map(parentOf)
    assert(groupsUsed.size > 1,
      s"degenerate fixture: cells $cellsUsed all under groups $groupsUsed")
    val stages = Seq(vecsOf(0 until 12), vecsOf(12 until 24),
      vecsOf(24 until 36))
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages, inDir)
    val q = graft.streaming.StreamOps.ivfHierIndexUpdateStream(
        in, coarse, fineT, storeDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val store = graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
    assert(indexMap(store) === whole,
      "three-batch hier fold diverged from the whole-corpus hier index")
    // serve side: searching the stream-maintained store is identical to
    // searching the one-shot build (store ≡ index row-for-row above, so
    // this pins the SEARCH path's determinism over both)
    val batch = vecsOf(0 until 36).filter(col("vec_id") % 7 === 0)
    def searchRows(idx: org.apache.spark.sql.DataFrame) =
      graft.ops.EmbeddingSim.ivfHierSearchAgainst(batch, coarse, fineT,
          idx, k = 5, pcoarse = 1, nprobe = 2)
        .orderBy(col("query_id"), col("rank")).collect().toSeq
    assert(searchRows(store) ===
      searchRows(graft.ops.EmbeddingSim.ivfHierIndex(all, coarse, fineT)),
      "search over the folded store diverged from search over the build")
  }

  test("IVF upsert/delete fold: upserts replace, deletes remove, a replayed batch is absorbed by the anti-join algebra") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_ivf_upsert_store"
    graft.streaming.Ingest.deleteRecursively(storeDir)
    def vecsOf(ids: Seq[Int], rev: Boolean = false) = ids.map { i =>
      val e = Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5) * 0.1)
      (i.toLong, if (rev) e.reverse else e)
    }.toDF("vec_id", "embedding")
    val all = vecsOf(0 until 24)
    val cents = graft.ops.EmbeddingSim.prepared(all)
      .orderBy(col("vec_id").asc).limit(3)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    def indexMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getSeq[Long](r.fieldIndex("q")).toVector))
      .toMap
    // batch 0: all upserted; batch 1: ids 0-5 REPLACED (reversed
    // embeddings) and ids 18-23 deleted
    val b0 = all.withColumn("op", lit("upsert"))
    val b1 = vecsOf(0 until 6, rev = true).withColumn("op", lit("upsert"))
      .unionByName(vecsOf(18 until 24).withColumn("op", lit("delete")))
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, Seq(b0, b1),
      "target/test_ivf_upsert_in")
    val q = graft.streaming.StreamOps.ivfIndexUpsertStream(in, cents, storeDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def storeNow() = indexMap(
      graft.streaming.StreamOps.sketchStoreRead(spark, storeDir))
    // expected last-write state: 0-5 reversed, 6-17 original, 18-23 gone
    val expected = indexMap(graft.ops.EmbeddingSim.ivfIndex(
      vecsOf(0 until 6, rev = true).unionByName(vecsOf(6 until 18)), cents))
    assert(storeNow() === expected,
      "upsert/delete fold diverged from the last-write index")
    assert(!storeNow().keySet.exists(_ >= 18L), "deleted ids survived")
    // the replacement was real: id 0's stored vector differs from the
    // original assignment's
    val orig = indexMap(graft.ops.EmbeddingSim.ivfIndex(all, cents))
    assert(storeNow()(0L)._2 !== orig(0L)._2, "re-upsert did not replace")
    // retry absorption BY ALGEBRA: re-applying batch 1's fold body
    // (anti-join + union) leaves the store unchanged — monotonic
    // versioning needs no batchId commit unit here
    val bsk = graft.ops.EmbeddingSim.ivfIndex(
        vecsOf(0 until 6, rev = true), cents)
      .withColumn("__op", lit("u"))
      .unionByName(vecsOf(18 until 24)
        .select(col("vec_id"), lit(null).cast("bigint").as("cid"),
          lit(null).cast("array<bigint>").as("q"),
          lit(null).cast("bigint").as("n2"), lit("d").as("__op")))
    val versions = Option(new java.io.File(storeDir).listFiles).toSeq
      .flatten.filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val replayed = graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
      .join(bsk.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(bsk.filter(col("__op") === "u").drop("__op"))
    replayed.write.mode("overwrite")
      .parquet(s"$storeDir/v${versions.max + 1}")
    assert(storeNow() === expected, "a replayed batch changed the store")
  }

  test("fingerprint upsert/delete fold: replacements move the fp, deletes remove the row, a replayed batch is absorbed by the anti-join algebra") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_fp_upsert_store"
    graft.streaming.Ingest.deleteRecursively(storeDir)
    // duplicated contents: ids 0..11 share 4 texts (i % 4)
    def docsOf(ids: Seq[Int], suffix: String = "") = ids.map { i =>
      (i.toLong, s"text ${i % 4}$suffix")
    }.toDF("doc_id", "text")
    // b0: all upserted; b1: ids 0-2 REPLACED (content change) and ids
    // 8-11 deleted
    val b0 = docsOf(0 until 12).withColumn("op", lit("upsert"))
    val b1 = docsOf(0 until 3, " r").withColumn("op", lit("upsert"))
      .unionByName(docsOf(8 until 12).withColumn("op", lit("delete")))
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, Seq(b0, b1),
      "target/test_fp_upsert_in")
    val q = graft.streaming.StreamOps.fingerprintUpsertStream(in, storeDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def fpMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    def storeNow() = fpMap(
      graft.streaming.StreamOps.sketchStoreRead(spark, storeDir))
    // expected last-write state: 0-2 replaced, 3-7 original, 8-11 gone
    val lastWrite = docsOf(0 until 3, " r").unionByName(docsOf(3 until 8))
    val expected = fpMap(lastWrite.select(col("doc_id"),
      graft.ops.TextStats.fingerprint(col("text")).as("fp")))
    assert(storeNow() === expected,
      "upsert/delete fold diverged from the last-write fingerprint relation")
    assert(!storeNow().keySet.exists(_ >= 8L), "deleted ids survived")
    // the replacement was real: id 0's fp moved
    val orig = fpMap(docsOf(0 until 12).select(col("doc_id"),
      graft.ops.TextStats.fingerprint(col("text")).as("fp")))
    assert(storeNow()(0L) !== orig(0L), "re-upsert did not move the fp")
    // canonical view over the store == Dedup.exact over the final state
    val viaStore = graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
      .groupBy(col("fp"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("canonical_id"),
        org.apache.spark.sql.functions.count(lit(1)).as("n_copies"))
      .orderBy(col("fp")).collect().toSeq
    val viaExact = graft.ops.Dedup.exact(lastWrite)
      .orderBy(col("fp")).collect().toSeq
    assert(viaStore === viaExact,
      "derived canonical view diverged from Dedup.exact of the final state")
    // retry absorption BY ALGEBRA: re-applying batch 1's fold body
    // leaves the store unchanged — monotonic versioning, no checkpoint
    val bsk = docsOf(0 until 3, " r")
      .select(col("doc_id"),
        graft.ops.TextStats.fingerprint(col("text")).as("fp"),
        lit("u").as("__op"))
      .unionByName(docsOf(8 until 12)
        .select(col("doc_id"), lit(null).cast("string").as("fp"),
          lit("d").as("__op")))
    val versions = Option(new java.io.File(storeDir).listFiles).toSeq
      .flatten.filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val replayed = graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
      .join(bsk.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(bsk.filter(col("__op") === "u").drop("__op"))
    replayed.write.mode("overwrite")
      .parquet(s"$storeDir/v${versions.max + 1}")
    assert(storeNow() === expected, "a replayed batch changed the store")
  }

  test("a fold over a session with marksuccessfuljobs disabled fails at stream START, not at first unreadable read") {
    import spark.implicits._
    // session-conf entries are copied VERBATIM into newHadoopConf (the
    // spark.hadoop. prefix is only stripped at context creation), so the
    // bare key is what a session-level override actually looks like
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    Session.withConf(spark, key -> "false") {
      val in = graft.streaming.Ingest.stageOrderedFiles(spark,
        Seq(Seq(("g", "k")).toDF("grp", "key")),
        "target/test_marker_gate_in")
      val e = intercept[IllegalArgumentException] {
        graft.streaming.StreamOps.kmvUpdateStream(
          in, "grp", "key", 8, "target/test_marker_gate_store")
      }
      assert(e.getMessage.contains("marksuccessfuljobs"),
        s"wrong failure: ${e.getMessage}")
    }
  }

  test("store walker is Hadoop-FS-backed: file:-scheme URIs work and a marker-less (crashed) version is invisible") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val k = 16
    val local = new java.io.File("target/test_fs_store").getAbsoluteFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(local)
    // an explicit file:-scheme URI — java.io.File would have listed the
    // RELATIVE path "file:..." as a (missing) local name and returned
    // nothing (the r17 verdict #1 failure mode, local-FS edition)
    val storeDir = "file:" + local.getPath
    val s1 = (1 to 80).map(i => ("g", s"k_$i")).toDF("grp", "key")
    val in = graft.streaming.Ingest.stageOrderedFiles(spark, Seq(s1),
      "target/test_fs_store_in")
    val q = graft.streaming.StreamOps.kmvUpdateStream(
        in, "grp", "key", k, storeDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def storeNow() = graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    val expected = Sketches.kmvSketch(s1, "grp", "key", k).collect()
      .map(r => r.getString(0) ->
        r.getSeq[Long](r.fieldIndex("sk")).toVector).toMap
    assert(storeNow() === expected, "file:-URI store fold diverged")
    // simulate a crash mid-write of a later version: a v99 directory with
    // data but NO _SUCCESS marker must not become "latest" (ADVICE r17:
    // crash-atomic version listing by commit marker)
    val v99 = new java.io.File(local, "v99")
    assert(v99.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(v99, "part-00000.parquet").toPath, "garbage")
    assert(storeNow() === expected,
      "a marker-less partial version was served as latest")
  }

  test("cmsUpdateStream refuses a cold replay over a committed store (batchId 0 under higher versions)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = "target/test_cms_cold_replay_store"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(storeDir))
    val s1 = (1 to 40).map(i => ("g", s"k_${i % 5}")).toDF("grp", "key")
    val s2 = (1 to 30).map(i => ("g", s"k_${i % 3}")).toDF("grp", "key")
    def run(stages: Seq[org.apache.spark.sql.DataFrame], inDir: String): Unit = {
      val in = graft.streaming.Ingest.stageOrderedFiles(spark, stages, inDir)
      val q = graft.streaming.StreamOps.cmsUpdateStream(
          in, "grp", "key", depth = 2, width = 32, storeDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(Seq(s1, s2), "target/test_cms_cold_replay_in1")
    // a SECOND stream on the same store replays from batchId 0 while v1
    // is committed: counts would double-fold — must fail loudly (ADVICE
    // r17), not silently write v0 under a stale latest
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Seq(s1), "target/test_cms_cold_replay_in2")
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("cold replay")),
      s"expected the cold-replay guard, got: ${rootMessages(e).mkString(" | ")}")
    // the guarded store is untouched: latest is still v1 with the two-batch fold
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    assert(cells(graft.streaming.StreamOps.sketchStoreRead(spark, storeDir)) ===
      cells(Sketches.cmsSketch(s1.union(s2), "grp", "key", 2, 32)))
  }

  test("sliding overlap equals the direct per-window overlap; gap days window alone; one-sided days emit no pair") {
    import spark.implicits._
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:${i % 60}%02d")
    // t1 active days 1,2,3,10; t2 active days 1,2,10 — day 3 is
    // one-sided and day 10 sits across a calendar gap
    val rows =
      (1 to 40).map(i => ("t1", ts(1, i), s"u_$i")) ++
        (21 to 60).map(i => ("t1", ts(2, i), s"u_$i")) ++
        (1 to 30).map(i => ("t1", ts(3, i), s"v_$i")) ++
        (1 to 10).map(i => ("t1", ts(10, i), s"w_$i")) ++
        (11 to 50).map(i => ("t2", ts(1, i), s"u_$i")) ++
        (1 to 20).map(i => ("t2", ts(2, i), s"x_$i")) ++
        (5 to 14).map(i => ("t2", ts(10, i), s"w_$i"))
    val df = rows.toDF("part", "ts", "key")
    val k = 16
    def tup(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_kept"), r.getAs[Long]("n_common"),
        r.getAs[Long]("n_only_a"), r.getAs[Long]("n_only_b"),
        r.getAs[Long]("est_union"), r.getAs[Long]("est_jaccard_ppm"),
        r.getAs[Long]("est_intersection"), r.getAs[Long]("est_only_a"),
        r.getAs[Long]("est_only_b"))
    val out = Sketches.kmvSlidingOverlap(df, "part", "ts", "key", k,
        windowDays = 3).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> tup(r)).toMap
    // composition identity: the windowed overlap must EQUAL kmvOverlap
    // over the window's raw rows (windowed re-cut union ≡ the window's
    // direct sketch, then the same merged-sample read)
    def direct(days: Seq[Int]) = {
      val sub = rows.filter { case (_, t, _) =>
        days.contains(t.toLocalDateTime.getDayOfMonth) }
        .map { case (p, _, key) => (p, key) }.toDF("part", "key")
      tup(Sketches.kmvOverlap(sub, "part", "key", k).collect().head)
    }
    // day 3 is t1-only: no pair row (overlap against an inactive part is
    // undefined, not zero); day 10's 3-day window crosses the gap alone
    assert(out.keySet === Set("2024-03-01", "2024-03-02", "2024-03-10"))
    assert(out("2024-03-01") === direct(Seq(1)))
    assert(out("2024-03-02") === direct(Seq(1, 2)))
    assert(out("2024-03-10") === direct(Seq(10)))
    // the gap-day window saw real overlap (w_5..w_10 shared), so the
    // identity above is not vacuous
    assert(out("2024-03-10")._2 > 0L)
  }

  test("overlap estimates recover disjoint, nested, and identical audiences") {
    import spark.implicits._
    val shared = (1 to 200).map(i => s"u_$i")
    val onlyC = (1 to 200).map(i => s"c_$i")
    val rows =
      shared.map(("t1", _)) ++ shared.map(("t2", _)) ++ // t1 == t2
        onlyC.map(("t3", _)) // t3 disjoint from both
    val df = rows.toDF("part", "key")
    val out = Sketches.kmvOverlap(df, "part", "key", k = 32).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("est_jaccard_ppm"), r.getAs[Long]("n_common"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("est_only_a"),
          r.getAs[Long]("est_only_b"), r.getAs[Long]("est_union"))).toMap
    // identical sets: every merged-bottom-k hash is in both → 10⁶ ppm,
    // both differences empty
    assert(out(("t1", "t2"))._1 === 1000000L)
    assert(out(("t1", "t2"))._4 === 0L && out(("t1", "t2"))._5 === 0L)
    // disjoint sets: no merged hash in both → 0 ppm, and the two
    // difference estimates partition the union estimate (up to the two
    // integer divisions)
    assert(out(("t1", "t3"))._1 === 0L)
    assert(out(("t2", "t3"))._1 === 0L)
    val d = out(("t1", "t3"))
    assert(d._4 + d._5 >= d._6 - 2 && d._4 + d._5 <= d._6)
    assert(out.values.forall(_._3 === 32L))
  }

  test("overlap intersection estimate tracks a 50% overlap") {
    import spark.implicits._
    val df = ((1 to 200).map(i => ("x", s"s_$i")) ++
      (101 to 300).map(i => ("y", s"s_$i"))).toDF("part", "key")
    val r = Sketches.kmvOverlap(df, "part", "key", k = 64).collect().head
    // truth: |x ∪ y| = 300, |x ∩ y| = 100, J = 1/3
    val ppm = r.getAs[Long]("est_jaccard_ppm")
    assert(ppm > 150000 && ppm < 550000, s"jaccard ppm $ppm far from 333333")
    val inter = r.getAs[Long]("est_intersection")
    assert(inter > 40 && inter < 220, s"intersection $inter far from 100")
  }
}
