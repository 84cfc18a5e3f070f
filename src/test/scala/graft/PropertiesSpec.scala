package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Latest, Rollup, Skew}

/** Property-based invariants (SURVEY.md §5.3), using scalacheck generators
  * with fixed seeds (the scalatest-scalacheck bridge isn't on the offline
  * classpath; a deterministic sample loop keeps failures reproducible).
  * Each case is a full Spark job, so the sample counts stay small. */
class PropertiesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(40), Seed(42L + i)))

  private val rowsGen: Gen[List[(String, Int, Double)]] =
    Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b", "c", "d")
      o <- Gen.choose(0, 20)
      v <- Gen.choose(-100, 100).map(_ / 2.0)
    } yield (k, o, v))

  test("keepFirst is idempotent and keeps exactly one row per key") {
    samples(rowsGen, 4).foreach { rows =>
      val df = rows.toDF("k", "o", "v").withColumn("uid", monotonically_increasing_id())
      val once = Latest.keepFirst(df, Seq("k"), Seq(col("o").desc, col("uid").desc))
      val twice = Latest.keepFirst(once, Seq("k"), Seq(col("o").desc, col("uid").desc))
      assert(once.orderBy("k", "uid").collect().toSeq
        === twice.orderBy("k", "uid").collect().toSeq)
      assert(once.count() === rows.map(_._1).distinct.size)
    }
  }

  test("single-pass modalCode always equals the reference's ranked formulation") {
    // few rows per key over {null, "0", "1", "2"}: ties between a null and
    // a code at the top count are common, so nulls-last is exercised
    val modalGen = Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b", "c", "d", "e", "f")
      c <- Gen.oneOf(null, "0", "1", "2")
    } yield (k, c))
    samples(modalGen, 6).foreach { rows =>
      val df = rows.toDF("k", "code")
      val a = Rollup.modalCode(df, col("k"), "k").orderBy("k").collect().toSeq
      val b = Rollup.modalCodeRanked(df, col("k"), "k").orderBy("k").collect().toSeq
      assert(a === b)
    }
  }

  test("salted aggregation equals direct aggregation for any salt count") {
    samples(rowsGen.flatMap(r => Gen.choose(1, 32).map(r -> _)), 4)
      .foreach { case (rows, salts) =>
        val df = rows.toDF("k", "o", "v")
        val direct = df.groupBy("k")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
          .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val salted = Skew.saltedAggregate(df, Seq("k"), salts,
            "n" -> (count(lit(1)), sum(col("n"))),
            "total" -> (sum(col("v")), sum(col("total"))))
          .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(salted === direct)
      }
  }

  test("distributed quota selection equals the window rank on random corpora") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Sampling
    // Random id sets (gaps, duplicates of strata, tiny and larger corpora)
    // and random quotas, vs the per-stratum window-rank reference the
    // bucket-classified selection replaced.
    val gen = for {
      ids <- Gen.nonEmptyListOf(Gen.choose(0L, 500L)).map(_.distinct)
      quota <- Gen.choose(0, 30)
    } yield (ids, quota)
    samples(gen, 6).foreach { case (ids, quota) =>
      val df = ids.map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh"))
        .toDF("doc_id", "lang")
      val w = Window.partitionBy(col("lang"))
        .orderBy(Sampling.hashKey(col("doc_id")).asc, col("doc_id").asc)
      val expected = df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= quota).select("doc_id").as[Long].collect().toSet
      val got = Sampling.stratifiedQuota(df, "lang", quota)
        .select("doc_id").as[Long].collect().toSet
      assert(got === expected, s"ids=${ids.size} quota=$quota diverged")
    }
  }

  test("containment dominates jaccard and stays within (0,1]") {
    val texts = Gen.listOfN(6, Gen.listOfN(8, Gen.oneOf("x", "y", "z", "w"))
      .map(_.mkString(" ")))
    samples(texts, 3).foreach { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, "b") }
        .toDF("doc_id", "text", "lang")
      val j = Dedup.ngramJaccardPairs(docs, "lang", threshold = 0.0).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
      val c = Dedup.containmentPairs(docs, "lang", threshold = 0.0).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Double]("c_a_in_b"), r.getAs[Double]("c_b_in_a"))).toMap
      assert(c.keySet === j.keySet, "same candidate pair universe")
      c.foreach { case (k, (ab, ba)) =>
        assert(ab > 0.0 && ab <= 1.0 && ba > 0.0 && ba <= 1.0)
        // max containment ≥ jaccard: |∩|/min(|A|,|B|) ≥ |∩|/|A∪B|
        // (rounded to 4 decimals on both sides, so allow the half-ulp)
        assert(math.max(ab, ba) >= j(k) - 1e-4,
          s"pair $k: containment ($ab, $ba) below jaccard ${j(k)}")
      }
    }
  }

  test("bpeEncode per-doc token totals equal bpeTrain's corpus token mass") {
    import graft.ops.TextStats
    val texts = Gen.listOfN(5, Gen.listOfN(6, Gen.oneOf("low", "lower", "lowest", "slow"))
      .map(_.mkString(" ")))
    samples(texts, 3).foreach { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // The trainer's re-tokenized corpus counts and the encoder's per-doc
      // totals are two routes to the same mass: Σ freq(kind='token') must
      // equal Σ per-doc n_tokens for the same numMerges.
      val trained = TextStats.bpeTrain(docs, numMerges = 4).collect()
        .filter(_.getAs[String]("kind") == "token")
        .map(_.getAs[Long]("freq")).sum
      val encoded = TextStats.bpeEncode(docs, numMerges = 4).collect()
        .map(_.getAs[Long]("n_tokens")).sum
      assert(encoded === trained,
        s"encoder mass $encoded != trainer mass $trained")
    }
  }

  test("vocabCoverage keeps exactly the minimal covering prefix") {
    import graft.ops.TextStats
    val texts = Gen.listOfN(4, Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" ")))
    samples(texts.flatMap(t => Gen.choose(10, 99).map(t -> _)), 4)
      .foreach { case (ts, pct) =>
        val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val counts = ts.flatMap(_.split(" ")).groupBy(identity)
          .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
          .sortBy { case (w, c) => (-c, w) }
        val total = counts.map(_._2).sum
        val cums = counts.scanLeft(0L)(_ + _._2).init  // exclusive prefix
        val expected = counts.zip(cums).takeWhile {
          case (_, prev) => prev * 100 < pct * total
        }.map(_._1._1)
        val got = TextStats.vocabCoverage(docs, coveragePct = pct)
          .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
        assert(got === expected, s"pct=$pct")
      }
  }

  test("funnel reach is monotonically non-increasing with non-negative lags") {
    val eventsGen = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 8L)
      m <- Gen.choose(0L, 500L)
      t <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (u, m, t))
    samples(eventsGen, 4).foreach { evs =>
      val df = evs.zipWithIndex.map { case ((u, m, t), i) =>
        (i.toLong, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(m * 60)),
          u, t, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val out = graft.ops.EventAnalytics.funnel(df, Seq("view", "click", "purchase"))
        .orderBy("step").collect()
      val reach = out.map(_.getLong(2))
      assert(reach.sliding(2).forall { case Array(a, b) => b <= a; case _ => true },
        s"reach must shrink per step: ${reach.toSeq}")
      assert(out.forall(_.getLong(3) >= 0L), "lags are non-negative")
    }
  }

  test("per-node triangle counts always sum to 3x the triangle total") {
    val edgesGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    samples(edgesGen, 4).foreach { es =>
      val pairs = es.distinct.toDF("doc_a", "doc_b")
      val out = Dedup.triangleCounts(pairs).collect()
      val perNodeSum = out.map(_.getLong(3)).sum
      // brute-force ground truth on the tiny edge set
      val adj = es.distinct.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val triangles = (for {
        i <- nodes; j <- nodes if j > i && adj(i)(j)
        k <- nodes if k > j && adj(i)(k) && adj(j)(k)
      } yield 1).size
      assert(perNodeSum === 3L * triangles,
        s"per-node sum $perNodeSum != 3 x $triangles")
      out.foreach { r => assert(r.getLong(3) <= r.getLong(2),
        "triangles cannot exceed wedges") }
    }
  }

  test("dupRuns and spanCoverage agree on where duplication exists") {
    val docsGen = Gen.listOfN(5, Gen.listOfN(12,
      Gen.oneOf("p", "q", "r", "s", "t")).map(_.mkString(" ")))
    samples(docsGen, 4).foreach { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val cov = Dedup.spanCoverage(docs, n = 5).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val runs = Dedup.dupRuns(docs, n = 5).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val tokens = ts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").length }.toMap
      runs.foreach { case (id, (nRuns, longest, dupTokens)) =>
        val (_, dupSpans) = cov(id)
        assert((dupSpans == 0L) === (dupTokens == 0L),
          s"doc $id: coverage and runs disagree on duplication existing")
        assert(dupTokens >= longest)
        if (nRuns > 0) assert(longest >= 5L, "a run covers at least n tokens")
        assert(dupTokens <= tokens(id), "duplicated mass cannot exceed the doc")
      }
    }
  }

  test("jaccard pairs are within (0,1] with doc_a < doc_b") {
    val texts = Gen.listOfN(6, Gen.listOfN(8, Gen.oneOf("x", "y", "z", "w"))
      .map(_.mkString(" ")))
    samples(texts, 3).foreach { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, "b") }
        .toDF("doc_id", "text", "lang")
      val pairs = Dedup.ngramJaccardPairs(docs, "lang", threshold = 0.0).collect()
      pairs.foreach { r =>
        val j = r.getAs[Double]("jaccard")
        assert(j > 0.0 && j <= 1.0)
        assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      }
    }
  }
}
