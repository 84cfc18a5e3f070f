package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.FastMd5.fastMd5
import graft.functions.MinhashSig.minhashSig

/** Document deduplication for a training-data pipeline: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, and SimHash — each expressed with stock
  * Catalyst expressions and hash aggregations so the plans partial-aggregate
  * map-side and shuffle only keys/signatures, never full documents.
  *
  * Scale design (100 TB):
  *  - exact dedup shuffles one (16-byte hash, doc_id) pair per doc;
  *  - MinHash signatures are one native per-row kernel
  *    ([[graft.functions.MinhashSig]]): a document's shingles never become
  *    rows, so building the signature shuffles nothing;
  *  - LSH banding turns the O(n²) similarity join into equi-joins on band
  *    keys; only same-bucket candidates are verified;
  *  - the exact-Jaccard verifier joins on shingles, which is only run within
  *    candidate blocks (a blocking column such as language/shard) — full-
  *    corpus exact Jaccard is intentionally not offered as one operator.
  *
  * All hash material is md5 (hex string), which DuckDB computes identically,
  * so every operator here is oracle-checkable bit-for-bit.
  *
  * ==Pipeline composition order (the 100 TB contract)==
  * Run [[exact]] FIRST and drop non-canonical copies before any near-dup
  * stage: real crawled corpora are duplicate-saturated (boilerplate pages
  * repeated millions of times), and every identical copy lands in the SAME
  * LSH band bucket / simhash band / shingle block — a bucket with m copies
  * emits m²/2 candidate pairs, so band-bucket skew turns the near-dup join
  * quadratic in exactly the corpora that need dedup most. Exact dedup
  * collapses those copies for the price of one (hash, id) shuffle, after
  * which bucket populations reflect genuine near-duplicates and the
  * candidate volume is output-bound. Then: one of [[minhashLshPairs]] /
  * [[simhashPairs]] / [[hashedTfCosinePairs]] (or embedding near-dup) for
  * pairs → [[connectedComponents]]/[[canonicalize]] to resolve transitive
  * clusters into a corpus-wide keep/drop flag. When the consumer is the
  * CLUSTERING step (not a pair listing), feed it [[simhashEdges]] /
  * [[minhashLshEdges]] instead of the pair operators: same components,
  * |group|-fold fewer edges on duplicate-saturated corpora (measured
  * 445.8 s → 45.8 s for the canonicalize path at the 100× probe). The
  * `dd_*` oracle queries intentionally run each stage standalone for
  * checkability; a production run composes them in this order.
  */
object Dedup {

  /** Bind `v`'s VALUE once and build `body` over it — SQL has no `let`,
    * so a higher-order-function body that names an expression re-evaluates
    * it PER ELEMENT (the charNgramFeatures lesson: a per-shingle
    * `tokens(text)` re-splits the whole doc at every position — O(len²)
    * per doc). A 1-element `transform` evaluates its ARGUMENT once and
    * hands the body a bound lambda variable, which codegen reads as a
    * value. Semantically the identity; oracles replay `body` unchanged. */
  private def bindOnce(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Distinct n-token shingles (1-based slice; empty when the doc is shorter
    * than n tokens — matching `range()` semantics in the oracle SQL). */
  def shingles(text: Column, n: Int = 3): Column =
    bindOnce(TextStats.tokens(text)) { t =>
      when(size(t) >= n,
        array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }

  /** POSITIONAL n-token shingles — one entry per position, duplicates
    * kept (unlike [[shingles]], which is the distinct set): the unit of
    * [[spanCoverage]], where how MUCH of a doc is duplicated matters, not
    * just which grams appear. */
  def positionalShingles(text: Column, n: Int): Column =
    bindOnce(TextStats.tokens(text)) { t =>
      when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }

  /** Per-doc duplicated-span coverage (the span-level dedup ANALYSIS
    * companion to [[segmentDedup]]'s removal, after Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better" coverage
    * measure): for each doc, the fraction of its n-token span positions
    * whose span content occurs in MORE THAN ONE doc of the corpus.
    * Output (doc_id, n_spans, dup_spans, coverage) — counts are exact
    * integers; coverage is one IEEE double division (deterministic across
    * engines), 0.0 for docs shorter than n tokens.
    *
    * Scale shape: positional-shingle explode (O(total tokens), narrow),
    * then every shuffle — the distinct, the document-frequency
    * hash-aggregate (map-side combinable, O(distinct spans) output) and
    * the equi-join back — runs on a 60-bit md5-derived LONG span key, not
    * the span string: 8-byte shuffle keys instead of n-token text (the
    * 100× probe measured the string form 14.2× vs this form — see
    * BASELINE.md), with the same md5 arithmetic reproduced in DuckDB so
    * any collision (≈ |positions|²/2⁶¹ — negligible, and identical in
    * both engines) cannot split the oracle. Nothing scales with posting
    * depth²; boilerplate spans repeated millions of times are one
    * combiner row each. */
  def spanCoverage(docs: DataFrame, n: Int = 5,
                   textCol: String = "text"): DataFrame = {
    val pos = Checkpoints.spread(docs).select(col("doc_id"),
        explode(positionalShingles(col(textCol), n)).as("s"))
      .select(col("doc_id"),
        conv(substring(fastMd5(col("s")), 1, 15), 16, 10).cast("long").as("sk"))
    val df = pos.select(col("doc_id"), col("sk")).distinct()
      .groupBy(col("sk")).agg(count(lit(1)).as("__df"))
    val perDoc = pos.join(df, "sk")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        sum((col("__df") >= 2).cast("long")).as("dup_spans"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("dup_spans").cast("double") / col("n_spans"))
          .as("coverage"))
  }

  /** Maximal duplicated RUNS per doc — the practical form of Lee et al.'s
    * ExactSubstr measurement: consecutive duplicated n-gram positions
    * merge into one run (positions i and i+1 both duplicated ⇒ tokens
    * i..i+n overlap into a single duplicated region), so the output is
    * token-true: `dup_tokens` is the exact duplicated token mass (a run
    * over positions [i, j] covers j − i + n tokens, counted once, where
    * [[spanCoverage]]'s per-span ratio counts overlapping spans
    * separately; runs merge while their token spans overlap or touch —
    * gap ≤ n — so the union is contiguous and never double-counted),
    * `longest_run_tokens` is the longest duplicated
    * substring-in-n-gram-resolution — the statistic that decides the
    * "drop docs with a ≥50-token duplicated run" rule without a
    * distributed suffix array.
    *
    * Scale shape: identical front half to [[spanCoverage]] (positional
    * explode, 60-bit long span keys, map-side-combinable df aggregate);
    * the island detection is two windows over the SAME (doc_id, pos)
    * partition-order — one exchange, partitioned by doc — and the run
    * relation is bounded by duplicated positions, never corpus². */
  def dupRuns(docs: DataFrame, n: Int = 5,
              textCol: String = "text"): DataFrame = {
    val pos = Checkpoints.spread(docs).select(col("doc_id"),
        posexplode(positionalShingles(col(textCol), n)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        conv(substring(fastMd5(col("s")), 1, 15), 16, 10).cast("long").as("sk"))
    val df = pos.select(col("doc_id"), col("sk")).distinct()
      .groupBy(col("sk")).agg(count(lit(1)).as("__df"))
    val dup = pos.join(df.filter(col("__df") >= 2), "sk")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // runs merge while their TOKEN spans overlap OR TOUCH: positions i < j
    // cover [i, i+n-1] and [j, j+n-1], which form one contiguous duplicated
    // region iff j − i ≤ n (gap = n means span j starts exactly where span i
    // ends — tokens i..i+2n-1 are one unbroken duplicated region, and
    // run_tokens = max − min + n is still the exact union). Merging only at
    // gap ≤ n−1 would split that region into two runs of n each:
    // dup_tokens stays exact but longest_run_tokens under-reports, which
    // can under-trigger the "drop docs with a ≥50-token duplicated run"
    // rule. Gaps > n leave a genuinely non-duplicated token between spans.
    val runs = dup
      .withColumn("new_run",
        (coalesce(col("pos") - lag(col("pos"), 1).over(w), lit(n + 1L)) > n)
          .cast("long"))
      .withColumn("run_id", sum(col("new_run"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg((max(col("pos")) - min(col("pos")) + n).cast("long").as("run_tokens"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_tokens")).as("longest_run_tokens"),
        sum(col("run_tokens")).as("dup_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run_tokens"), lit(0L)).as("longest_run_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Winnowing fingerprint selection + candidate pairs (Schleimer/
    * Wilkerson/Aiken's MOSS scheme) — the third near-dup FAMILY next to
    * minhash (whole-doc similarity) and simhash (bit-flip distance):
    * LOCAL fingerprint selection with a positional guarantee — any shared
    * token run of ≥ w + k − 1 tokens is guaranteed to share at least one
    * selected fingerprint, which set-sampling schemes cannot promise.
    * That makes it the candidate generator for partial-overlap detection
    * (plagiarism, quote reuse) where minhash's global-Jaccard lens dilutes
    * a short shared passage to invisibility.
    *
    * Selection: per k-gram position the 40-bit md5-derived hash; per
    * sliding window of `w` consecutive hashes keep the minimum, rightmost
    * on ties — encoded as ONE long min over hk·2²⁰ + (2²⁰−1−pos), so both
    * engines run a plain integer `min` over the frame (no struct ordering
    * semantics to align); positions ≥ 2²⁰ are filtered out up front to
    * ENFORCE the packing contract (see the inline note). Selected
    * prints dedup per doc; docs with fewer than w k-grams emit nothing
    * (no partial windows — the guarantee starts at w full hashes).
    *
    * Pair generation is the standard posting join on the selected-print
    * relation (≈ 2/(w+1) of positions survive selection — the winnowing
    * density bound — so the posting list is w/2× smaller than the full
    * k-gram index), df-capped via `maxDf` exactly like
    * [[ngramJaccardPairs]]: boilerplate prints above the cap are dropped
    * from the whole universe before the self-join.
    *
    * Scale: explode O(tokens); the frame min is a per-doc window (one
    * keyed exchange); the self-join is bounded by maxDf²/2 per print. */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4,
                         textCol: String = "text"): DataFrame = {
    val pos = Checkpoints.spread(docs).select(col("doc_id"),
        posexplode(positionalShingles(col(textCol), k)).as(Seq("pos", "s")))
      // ENFORCED position contract: the tie-break packs (2²⁰−1 − pos) into
      // the low 20 bits, so a doc with more than 2²⁰ k-gram positions would
      // make the offset negative and `sel div 2²⁰` could emit hk−1 — a
      // WRONG fingerprint, silently. Positions ≥ 2²⁰ are dropped before
      // selection (the oracle applies the identical cut), so oversized docs
      // degrade to "first 1,048,576 positions fingerprinted" instead of
      // corrupting prints; real docs never hit the cap (2²⁰ tokens ≈ 4 MB
      // of text), and a caller chunking book-sized inputs should split via
      // chunkSliding first.
      .filter(col("pos") < 1048576)
      .select(col("doc_id"), col("pos"),
        conv(substring(fastMd5(col("s")), 1, 10), 16, 10).cast("long").as("hk"))
    val wf = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    pos
      .withColumn("sel", min(col("hk") * lit(1048576L) +
        (lit(1048575L) - col("pos"))).over(wf))
      .filter(col("pos") >= w - 1) // full windows only
      .select(col("doc_id"), expr("sel div 1048576").as("fp"))
      .distinct()
  }

  /** Candidate pairs over [[winnowFingerprints]]: pairs sharing ≥
    * `minShared` selected prints, over the df-capped print universe
    * (prints in more than `maxDf` docs are boilerplate and dropped).
    *
    * Plan (round 12): ONE pass — the selection relation is grouped by
    * print into df-capped posting lists
    * ([[graft.functions.BoundedCollectLong]]: per-group state bounded at
    * maxDf+1 ids no matter how hot the print), and the pairs are exploded
    * from each sorted list NARROWLY (`i < j` ⇒ doc_a < doc_b, ≤ maxDf²/2
    * rows per print — the same intermediate bound as the old posting
    * self-join) into the map-side-combinable pair count. This replaces the
    * previous persist(MEMORY_AND_DISK) + count/anti-join + double-shuffled
    * self-join: the selection is computed ONCE with no pinned cache (the
    * round-11 driver bench measured that persist degrading 2.5× under
    * ambient memory pressure while the clean-box envelope held), and the
    * corpus-shaped relation crosses exactly one exchange. */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Int = 2, maxDf: Int = 1000,
                  textCol: String = "text"): DataFrame = {
    val bounded = udaf(graft.functions.BoundedCollectLong(maxDf))
    winnowFingerprints(docs, k, w, textCol)
      .groupBy(col("fp"))
      .agg(bounded(col("doc_id")).as("ds"))
      // null = df > maxDf (dropped universe); singleton lists emit no pairs
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(explode(pairsFromSortedList(col("ds"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** All unordered pairs (a < b) from an ascending-sorted id array — the
    * narrow pair-explode over a df-capped posting list (≤ |ds|²/2 rows,
    * generated inside codegen; `slice` clamps at the array end). */
  private def pairsFromSortedList(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + lit(2), size(ds)),
        y => struct(x.as("a"), y.as("b")))))

  /** Exact dedup: group by content fingerprint, keep the lowest doc_id as
    * canonical. Output one row per distinct content. */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Incremental EXACT dedup screen — the exact-fingerprint twin of
    * [[minhashLshPairsAgainst]]: flag each batch doc whose normalized
    * content fingerprint already exists in the corpus store. The store is
    * the (fp, canonical_id) relation [[exact]] emits, maintained across
    * batches; at 100 TB it is the only corpus-sized state — one
    * fixed-width row per DISTINCT content, never per doc. One left
    * equi-join on the 16-byte fingerprint (the small batch side
    * broadcasts when sizes warrant); output bounded by the batch.
    * Emits (doc_id, is_new, canonical_id — null when new). */
  def exactAgainst(newDocs: DataFrame, corpusFps: DataFrame,
                   textCol: String = "text"): DataFrame =
    newDocs.select(col("doc_id"),
        TextStats.fingerprint(col(textCol)).as("fp"))
      .join(corpusFps.select(col("fp"), col("canonical_id")), Seq("fp"), "left")
      .select(col("doc_id"),
        col("canonical_id").isNull.cast("long").as("is_new"),
        col("canonical_id"))

  /** Bloom-prescreened incremental EXACT dedup — [[exactAgainst]] with the
    * store join gated by a Bloom filter, for the deployment regime where
    * most batch content is NOVEL (the common case on a live crawl: the
    * duplicate rate per batch is a few percent). Output is IDENTICAL to
    * [[exactAgainst]] on every input: the Bloom can only err toward
    * "might contain", and every might-contain row is confirmed by the
    * exact store join — false positives fall out as `canonical_id IS
    * NULL`, false negatives are impossible. That exactness is why the
    * operator can share [[exactAgainst]]'s oracle bit-for-bit.
    *
    * Why it matters at 100 TB: [[exactAgainst]] probes the corpus-sized
    * (fp, canonical_id) store with EVERY batch row — a shuffle or a
    * store-sized broadcast either way. Here the store collapses once per
    * batch into a `numBits/8`-byte filter (8 MiB at the default — a 1-row
    * broadcast, built by a map-side-combining aggregate over the store),
    * definitely-new rows exit through a NARROW filter without touching
    * the join at all, and the store join is probed only by the
    * might-contain sliver (true duplicates + ~fpp of the batch). The
    * sketch is Spark's own `BloomFilterAggregate` via
    * [[graft.functions.BloomSketch]] — deterministic bits, so the plan
    * stays engine-honest even though only the OUTPUT is oracle-compared.
    * Default sizing: 6.4 M expected items × 10 bits ≈ 1% fpp in 8 MiB;
    * size `expectedItems` to the STORE's distinct-content count. */
  def exactAgainstBloom(newDocs: DataFrame, corpusFps: DataFrame,
                        textCol: String = "text",
                        expectedItems: Long = 6400000L,
                        numBits: Long = 64000000L): DataFrame = {
    import graft.functions.BloomSketch
    // `might_contain` requires its filter side to be a constant or scalar
    // subquery (the same contract the runtime-filter rewrite satisfies):
    // Dataset.scalar() embeds the 1-row bloom aggregate as exactly that —
    // no crossJoin, no driver collect, the subquery executes once and its
    // 8 MiB result broadcasts with the plan.
    val bloom = corpusFps
      .agg(BloomSketch.bloomAgg(col("fp"), expectedItems, numBits).as("__bloom"))
      .scalar()
    // BloomFilterAggregate evaluates to NULL over an EMPTY store (zero rows
    // inserted), and might_contain null-propagates — without the coalesce
    // BOTH branches below would reject every batch row on the bootstrap
    // (first-batch) corpus. A NULL bloom means nothing was ever inserted,
    // so every probe is definitely new.
    val probed = newDocs
      .select(col("doc_id"), TextStats.fingerprint(col(textCol)).as("fp"))
      .withColumn("__maybe",
        coalesce(BloomSketch.mightContain(bloom, col("fp")), lit(false)))
    val confirmed = probed.filter(col("__maybe"))
      .join(corpusFps.select(col("fp"), col("canonical_id")), Seq("fp"), "left")
      .select(col("doc_id"),
        col("canonical_id").isNull.cast("long").as("is_new"),
        col("canonical_id"))
    val definitelyNew = probed.filter(!col("__maybe"))
      .select(col("doc_id"), lit(1L).as("is_new"),
        lit(null).cast("long").as("canonical_id"))
    confirmed.unionByName(definitelyNew)
  }

  /** (doc_id, block, shingle) exploded view, distinct per doc. */
  private def shingleRows(docs: DataFrame, blockCol: String,
                          textCol: String): DataFrame =
    // spread BEFORE the explode (r20): the shingle explode is the
    // corpus-sized CPU of every consumer and otherwise serializes in a
    // one-file scan task — see Checkpoints.spread
    Checkpoints.spread(docs).select(col("doc_id"), col(blockCol),
      explode(shingles(col(textCol))).as("s"))

  /** Exact n-gram Jaccard near-dup pairs within a blocking column (e.g.
    * language or shard). The shingle equi-join only pairs documents sharing
    * a shingle inside one block — the scalable "verify" stage of a dedup
    * pipeline. Emits (doc_a < doc_b, jaccard ≥ threshold).
    *
    * `maxDf` (off by default) drops shingles shared by more than `maxDf`
    * documents within a block BEFORE the self-join, and computes Jaccard
    * over that filtered shingle universe (sizes and intersections both) —
    * a deterministic, self-consistent semantic, not a sampled approximation.
    * Why it exists: each shingle with posting-list length L contributes
    * L²/2 candidate rows, so a corpus whose duplicates cluster in large
    * groups makes the UNCAPPED join intermediate quadratic in group size —
    * the round-7 100× probe (500 k docs, replica groups of 100) spilled
    * > 43 GiB of shuffle and exhausted local disk. Ultra-common shingles
    * are boilerplate (non-discriminative) by definition; with the cap the
    * intermediate is bounded by maxDf²/2 per shingle. Documents whose every
    * shingle is hot leave the universe (no pairs — by construction they
    * only shared boilerplate). The production-scale pipeline runs
    * [[minhashLshPairs]] first regardless (see the composition-order
    * scaladoc at the top of this file). */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, threshold: Double,
                        textCol: String = "text",
                        maxDf: Int = Int.MaxValue): DataFrame =
    shinglePairStats(docs, blockCol, textCol, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter") * lit(1.0) /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| over the same
    * (optionally df-capped) shingle universe as [[ngramJaccardPairs]].
    * Catches what symmetric Jaccard structurally misses — a short document
    * fully quoted inside a long one scores |A|/|B| ≈ 0 Jaccard but
    * containment 1.0 (Broder 1997's "containment" resemblance; the
    * supersets/quote-expansion case every crawl corpus has). Emits one row
    * per unordered pair (doc_a < doc_b) with BOTH directions' scores,
    * kept when either clears the threshold; callers drop the contained
    * (smaller-side) member. Same scale shape as Jaccard: the only
    * corpus-shaped work is the shared posting-list self-join, bounded by
    * maxDf²/2 per shingle under the cap. */
  def containmentPairs(docs: DataFrame, blockCol: String, threshold: Double,
                       textCol: String = "text",
                       maxDf: Int = Int.MaxValue): DataFrame =
    shinglePairStats(docs, blockCol, textCol, maxDf)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter") * lit(1.0) / col("na"), 4).as("c_a_in_b"),
        round(col("n_inter") * lit(1.0) / col("nb"), 4).as("c_b_in_a"))
      .filter(col("c_a_in_b") >= threshold || col("c_b_in_a") >= threshold)

  /** Shared core of [[ngramJaccardPairs]] / [[containmentPairs]]: per
    * unordered candidate pair (doc_a < doc_b sharing ≥ 1 kept shingle in a
    * block), the intersection size and both documents' kept-shingle-set
    * sizes — (doc_a, doc_b, n_inter, na, nb). */
  private def shinglePairStats(docs: DataFrame, blockCol: String,
                               textCol: String, maxDf: Int): DataFrame = {
    val (inter, sizes) =
      if (maxDf == Int.MaxValue) {
        // UNCAPPED form (the small-corpus configuration — production runs
        // the cap, see ngramJaccardPairs' scaladoc): persisted because the
        // exploded shingle set feeds THREE plan branches (sizes, both
        // self-join sides) and would otherwise re-tokenize the corpus 3×.
        // The posting self-join is kept here — without a df bound a hot
        // shingle's posting list is unbounded, so the collect-and-explode
        // form below would hold unbounded aggregation buffers; the join
        // shuffles but never buffers a whole posting list.
        // The (s, block) hash layout lives INSIDE the cache (r20). Without
        // it the cache inherits the spread's core-count width, and every
        // downstream consumer (two join-side exchanges, the sizes
        // aggregate) runs as core-count micro-task stages over a tiny
        // relation — profiled at sf0.1/32: ~0.3 s/task of fixed cost ×
        // 32 tasks × 4 stages ≈ 40 of the query's 52 task-CPU-s. With an
        // AQE-coalescible exchange as the cache root, the cache and every
        // stage over it run at size-derived width (5 tasks at sf0.1):
        // paired bench 52 → 15 task-s, jaccard wall 2.76 → 1.96 s. The
        // join-side exchanges CANNOT be elided by the layout
        // (canChangeCachedPlanOutputPartitioning=true means downstream
        // plans may not rely on cache partitioning), so this is one
        // corpus-sized shuffle ADDED to fill the cache — the right trade
        // ONLY in this uncapped form, which is the documented small-corpus
        // configuration; the df-capped 100 TB form below keeps its
        // single-exchange shape (measured: this pattern there costs more
        // wall than it saves).
        val sh = shingleRows(docs, blockCol, textCol)
          .repartition(col("s"), col(blockCol))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val in = sh.as("a").hint("shuffle_hash")
          .join(sh.as("b"),
            col("a.s") === col("b.s") && col(s"a.$blockCol") === col(s"b.$blockCol")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        // sizes joins BOTH pair sides below — materialized once here
        // (r20: each branch otherwise re-ran the corpus-sized cache scan
        // + aggregate, profiled ~8 task-s/query at sf0.1; the leaf is
        // |docs| tiny rows). The CAPPED form deliberately does NOT take
        // this leaf: its sizes chain re-explodes the vocabulary-sized
        // DISK_ONLY posting table — cheap enough that the extra
        // localCheckpoint job measured +0.76 s wall for -5 task-s at
        // sf0.1 (paired bench, dd_ngram_jaccard_capped 2.00 → 2.76 s),
        // a bad trade.
        (in, Checkpoints.materialized(sz))
      } else {
        // DF-CAPPED form (the 100-TB shape), restructured round 12: ONE
        // grouping of the exploded shingles into df-capped posting lists
        // (BoundedCollectLong: per-group state ≤ maxDf+1 ids even on
        // million-hot boilerplate shingles; lists over the cap → null →
        // dropped from the universe, sizes included — identical semantics
        // to the old count/anti-join pre-filter). Sizes re-explode the
        // capped lists (≤ maxDf per row); pairs explode NARROWLY from each
        // sorted list (a < b by sort order, ≤ maxDf²/2 rows per shingle —
        // the same bound as the old self-join intermediate). The corpus-
        // shaped shingle relation crosses ONE exchange instead of three
        // (count, anti-join probe, self-join), and the only persisted
        // relation is the vocabulary-sized capped posting table — pinned
        // DISK_ONLY, not MEMORY_AND_DISK: the round-11 driver bench showed
        // memory-resident persists of exactly this operator degrading 2.1×
        // under ambient MemoryStore pressure while clean-box envelopes held
        // flat; a disk-pinned columnar block costs two sequential local
        // reads and competes with nothing.
        val bounded = udaf(graft.functions.BoundedCollectLong(maxDf))
        val posting = shingleRows(docs, blockCol, textCol)
          .groupBy(col(blockCol), col("s"))
          .agg(bounded(col("doc_id")).as("ds"))
          .filter(col("ds").isNotNull)
          .select(col("ds"))
          .persist(StorageLevel.DISK_ONLY)
        val sz = posting.select(explode(col("ds")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val in = posting.filter(size(col("ds")) >= 2)
          .select(explode(pairsFromSortedList(col("ds"))).as("p"))
          .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        (in, sz)
      }
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
  }

  /** MinHash signature (doc_id, h0..h{numHashes−1}) over each document's
    * distinct 3-token shingles, via Kirsch-Mitzenmacher double hashing —
    * h_i = min over shingles s of (a(s) + (i+1)·b(s)) mod P, where (a, b)
    * are two 32-bit slices of ONE md5(s) and P = 2³¹−1 (Mersenne prime; b
    * is forced into [1, P−1] so a zero b can't collapse all hash functions
    * onto a). One md5 per shingle derives the whole family by integer
    * arithmetic (provably sufficient for minwise estimation — Kirsch &
    * Mitzenmacher 2006), and the signature is fixed-width longs. DuckDB
    * reproduces the exact values (md5 + the same mod arithmetic), so
    * oracles stay bit-exact.
    *
    * Plan: spread, then one projection of the native
    * [[graft.functions.MinhashSig]] kernel, then h_i = sig[i] — no explode
    * and no `groupBy(doc_id)`, so one row per input row (doc_id is the
    * corpus key). Documents under 3 tokens (and null text) have no
    * shingle and no row; they are dropped by a token-count predicate on
    * the text BEFORE the kernel's projection, so the optimizer has no
    * `isnotnull(sig)` filter to push below it (which would run every md5
    * twice). The kernel is referenced by every h_i, so `CollapseProject`
    * keeps it in its own projection: one evaluation per row. */
  def minhashSignature(docs: DataFrame, numHashes: Int,
                       textCol: String = "text"): DataFrame = {
    val n = 3
    Checkpoints.spread(docs)
      .filter(size(split(col(textCol), " ", n)) >= n)
      .select(col("doc_id"), minhashSig(col(textCol), n, numHashes).as("__sig"))
      .select(col("doc_id") +: (0 until numHashes).map(i => col("__sig")(i).as(s"h$i")): _*)
  }

  /** (doc_id, h0..h{n-1}, band, bkey) — one row per (doc, band), the bkey
    * an md5 of that band's signature slice. The full signature rides along
    * so band-join consumers compute agreement without a re-join. */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), fastMd5(concat_ws(",", slice: _*)).as("bkey"))
    }
    sig.select(
      (col("doc_id") +: (0 until numHashes).map(i => col(s"h$i"))) :+
        explode(array(bandStructs: _*)).as("bb"): _*)
      .withColumn("band", col("bb.band")).withColumn("bkey", col("bb.bkey"))
      .drop("bb")
  }

  private def bandAgreement(numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"x.h$i") === col(s"y.h$i"), 1).otherwise(0))
      .reduce(_ + _) * lit(1.0) / numHashes

  /** A MinHash banding configuration: `numHashes` = bands · rowsPerBand,
    * the shape [[minhashLshPairs]]/[[minhashLshPairsAgainst]] take. */
  final case class MinhashPlan(numHashes: Int, bands: Int) {
    def rowsPerBand: Int = numHashes / bands
    /** P(a pair with true Jaccard j surfaces as a candidate) =
      * 1 − (1 − j^r)^b — the LSH S-curve; the plan's RECALL FLOOR at any
      * similarity level of interest, documented per configuration rather
      * than assumed (at the inflection itself it is ≈ 1 − (1−1/b)^b →
      * 1 − 1/e ≈ 0.63 for large b; above the inflection it climbs
      * steeply toward 1). */
    def candidateProb(j: Double): Double =
      1.0 - math.pow(1.0 - math.pow(j, rowsPerBand.toDouble), bands.toDouble)
    /** The S-curve inflection (1/b)^(1/r) — the Jaccard level where the
      * candidate probability crosses ≈ 1 − 1/e; pairs below it are
      * increasingly filtered, pairs above increasingly kept. */
    def inflection: Double =
      math.pow(1.0 / bands, 1.0 / rowsPerBand)
  }

  /** MinHash parameter auto-tuning — the [[graft.ops.EmbeddingSim.autoPlanes]]
    * analog for the banding family: derive (bands, rowsPerBand) from a
    * TARGET Jaccard threshold via the S-curve inflection
    * t ≈ (1/b)^(1/r) ⇒ b = t^(−r), instead of hand-picking fixed
    * parameters that silently mis-tune when the dedup threshold moves.
    * Searches r ∈ [2, 8] (r = 1 blocks nothing useful — every shared
    * shingle hash collides a band; r > 8 makes bands so selective the
    * hash budget explodes), clamps b to [2, maxHashes/r], and among
    * near-exact inflection matches prefers the LARGEST hash budget
    * (more hashes = sharper S-curve = better precision at equal recall),
    * then the smaller r. Deterministic; unit-pinned against hand-computed
    * curve points in DedupSpec.
    *
    * Recall contract: the returned plan's [[MinhashPlan.candidateProb]]
    * AT the target is ≈ 1 − (1−1/b)^b ∈ [0.63, 0.75] for b ≥ 2 — the
    * inherent S-curve midpoint, NOT a miss rate to fear: pairs at
    * exactly the threshold are borderline by definition, and the
    * probability climbs steeply just above it (e.g. the (64, 16) plan
    * for t = 0.5 catches j = 0.6 pairs with p ≈ 0.89, j = 0.7 with
    * p ≈ 0.99). Callers needing a harder floor AT the threshold lower
    * `targetJaccard` slightly and keep the verify-stage filter at the
    * true threshold — banding only proposes, [[bandAgreement]] disposes. */
  def autoBands(targetJaccard: Double, maxHashes: Int = 64): MinhashPlan = {
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      "targetJaccard must be in (0, 1)")
    require(maxHashes >= 4, "need at least 4 hashes to band")
    val candidates = for {
      r <- 2 to 8
      if 2 * r <= maxHashes
      b = math.max(2, math.min(maxHashes / r,
        math.round(math.pow(targetJaccard, -r.toDouble)).toInt))
    } yield MinhashPlan(r * b, b)
    candidates.minBy(p =>
      (math.abs(p.inflection - targetJaccard), -p.numHashes, p.rowsPerBand))
  }

  /** MinHash+LSH near-dup pairs: band-bucket candidates, then signature
    * agreement (estimated Jaccard) ≥ threshold.
    *
    * The full signature rides along on the band rows (numHashes longs), so
    * agreement is computed directly on the band-join output — no re-join
    * back to the signature relation. The signature is PERSISTED before the
    * band self-join: self-joins re-execute lineage per side, and the
    * signature's md5 of every shingle is the corpus-sized CPU of this
    * operator — at 100 TB the signature is the thing you materialize ONCE.
    * The self-join is pinned shuffle-hash: both sides are the same size by
    * construction, so a broadcast is never the right physical choice at
    * scale. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5, textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = minhashSignature(docs, numHashes, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val br = bandRows(sig, numHashes, bands)
    br.as("x").hint("shuffle_hash")
      .join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bandAgreement(numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Incremental near-dup: a NEW BATCH against a pre-computed corpus
    * signature store — the everyday shape at scale: fingerprint the corpus
    * ONCE ([[minhashSignature]], materialized to a table), then screen each
    * arriving batch against it without touching corpus text again. Only the
    * batch is shingled here; the corpus side contributes band rows derived
    * from its stored fixed-width signature (numHashes longs per doc — the
    * thing you keep, orders of magnitude smaller than the text).
    *
    * Emits (doc_new, doc_corpus, est_jaccard ≥ threshold). Ids present on
    * both sides (a batch replaying corpus rows) never self-pair. The join is
    * asymmetric: a small batch's band rows broadcast naturally; Catalyst
    * picks that when sizes warrant, so no join-strategy pin here (unlike the
    * self-join in [[minhashLshPairs]], where neither side is small). */
  def minhashLshPairsAgainst(newDocs: DataFrame, corpusSig: DataFrame,
                             numHashes: Int = 16, bands: Int = 4,
                             threshold: Double = 0.5,
                             textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val newBr = bandRows(minhashSignature(newDocs, numHashes, textCol),
      numHashes, bands)
    val corpusBr = bandRows(corpusSig, numHashes, bands)
    newBr.as("x")
      .join(corpusBr.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_new"), col("y.doc_id").as("doc_corpus"),
        bandAgreement(numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Feature-hashing (hashing-trick) vectorizer: each document becomes a
    * `dims`-dimensional signed token-count vector in SPARSE form
    * (doc_id, idx, v), index and sign derived from md5 of the token —
    * engine-portable, all-integer. */
  def hashedTfFeatures(docs: DataFrame, dims: Int = 64,
                       textCol: String = "text"): DataFrame = {
    def hexVal(c: Column): Column =
      when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)
    // NOT spread (r20, measured): this explode's partial aggregate is one
    // count per (doc, token), ~0.1 s serial at sf0.1, and
    // hashedTfCosinePairs builds this relation on several branches, so the
    // extra exchange cost 12 jobs for no serial-CPU win
    // (t_hashed_tf_neardup 41 → 53 jobs when tried). A consumer that needs
    // only each doc's vector, not the rows, takes the native
    // [[graft.functions.HashedTf]] instead (TextStats.qualityScoreAgainst).
    docs
      .select(col("doc_id"), explode(TextStats.tokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", fastMd5(col("t")))
      .withColumn("idx",
        (hexVal(substring(col("h"), 1, 1)) * 16 + hexVal(substring(col("h"), 2, 1))) % dims)
      .withColumn("sgn", when(substring(col("h"), 3, 1) >= "8", 1L).otherwise(-1L))
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("sgn") * col("cnt")).as("v"))
  }

  /** The uncontracted cosine-verify chain: MinHash-LSH band candidates
    * verified by hashed-TF cosine. [[hashedTfCosinePairs]] runs this on
    * exact-fingerprint REPRESENTATIVES and expands afterwards; it is
    * `private[graft]` (not private) so the equivalence spec can pit the
    * contracted operator against this reference form directly.
    *
    * A naive inverted-index all-pairs cosine degenerates to n²·cells on
    * low-entropy corpora; measured 42 s vs ~6 s at sf0.1. The sparse dot
    * product only joins features of CANDIDATE pairs; candidates with no
    * shared feature cell drop out (their cosine would be ≈ 0).
    * Integer-exact until the final sqrt/divide. */
  private[graft] def cosineVerifyPairs(docs: DataFrame, threshold: Double,
                                       dims: Int = 64,
                                       textCol: String = "text"): DataFrame = {
    // candidates = raw LSH band collisions (threshold 0: the cosine stage
    // IS the verifier; an est-filter here would just shadow it)
    // DISK_ONLY, not MEMORY_AND_DISK: both are re-read by ≥2 branches but
    // neither belongs in the MemoryStore — the round-12 driver bench put
    // this plan 3.5× over its quiet envelope under ambient memory
    // pressure, the same signature the round-11 winnow/ngram rebuilds
    // fixed by evicting corpus-shaped persists from memory.
    val cand = minhashLshPairs(docs, threshold = 0.0, textCol = textCol)
      .select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.DISK_ONLY)
    val feats = hashedTfFeatures(docs, dims, textCol)
      .persist(StorageLevel.DISK_ONLY)
    val norms = feats.groupBy(col("doc_id")).agg(sum(col("v") * col("v")).as("n2"))
    // Join order is load-bearing: candidates must attach BEFORE the two
    // feature relations meet, or the optimizer can reorder to
    // feats⋈feats-on-idx (≈ n²/dims rows) and filter by candidates after —
    // measured 41 s vs 3 s at sf0.1. Every join carries a SHUFFLE_HASH hint:
    // a hinted join is never flattened by ReorderJoin (the order stays as
    // written), the joins stay equi-partitioned shuffles whose cost is
    // O(candidates), and — unlike the broadcast pin this replaces — nothing
    // ever collects a corpus-growing relation onto the driver (a
    // broadcast(cand) here measured 48 s..261 s run-to-run at sf0.1 and is
    // a driver-memory scale-killer at 100 TB).
    //
    // The hints sit on the feats/norms SIDES, not the accumulated left
    // chain: a one-sided SHUFFLE_HASH hint names the BUILD side, and the
    // round-9 100× probe showed why that placement is load-bearing — with
    // the hint on the left, the second join built its hash map over the
    // cand⋈feats intermediate (candidates × dims rows; ~1.6 B at the probe)
    // and died with SparkOutOfMemoryError "cannot build hash map". Built on
    // feats/norms, the per-partition build is corpus-linear and the
    // quadratic intermediate only ever STREAMS. cand and feats are
    // persisted: each is consumed by ≥2 plan branches, and persisting also
    // bounds the work a shuffle-hash build side re-executes.
    val dots = cand
      .join(feats.as("a").hint("shuffle_hash"), col("a.doc_id") === col("doc_a"))
      .join(feats.as("b").hint("shuffle_hash"),
        col("b.doc_id") === col("doc_b") && col("a.idx") === col("b.idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("a.v") * col("b.v")).as("dot"))
    dots
      .join(norms.as("na").hint("shuffle_hash"), col("doc_a") === col("na.doc_id"))
      .join(norms.as("nb").hint("shuffle_hash"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("dot").cast("double") /
          (sqrt(col("na.n2").cast("double")) * sqrt(col("nb.n2").cast("double")))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cosine"))
  }

  /** Two-stage near-dup pipeline: MinHash-LSH candidate pairs verified by
    * hashed-TF cosine, with the verification contracted through EXACT
    * content fingerprints — the 100 TB composition.
    *
    * Why contract, and why on the exact fingerprint: the raw candidate feed
    * (band collisions at threshold 0) is quadratic within identical-
    * signature groups, and the round-9 100× probe (500 k docs, 100-deep
    * replica groups) OOM'd the uncontracted chain. Cosine is a function of
    * the hashed-TF vector, which is a function of the (normalized) text —
    * so all members of an exact-fingerprint group share every cosine, and
    * the verification only needs to run once per DISTINCT content. The
    * minhash signature is NOT a sound contraction key here (identical
    * signatures ⇒ identical features only for exact dups), hence
    * [[TextStats.fingerprint]].
    *
    * Exact output equivalence with `cosineVerifyPairs(docs)` (spec'd on
    * fixed and random duplicate-heavy corpora):
    *  - members inherit their rep's minhash signature, so a member pair
    *    band-collides iff the rep pair does, and scores the same cosine —
    *    cross-group pairs expand through the member map at the rep pair's
    *    verified value;
    *  - within-group pairs are exact dups: they band-collide iff the doc
    *    has a signature at all (≥ 1 shingle ⇔ ≥ 3 tokens) and score
    *    dot/(√n2·√n2) = 1.0 when n2 > 0 — emitted directly at 1.0 for
    *    qualifying groups. (An all-zero hashed-TF vector — every cell
    *    cancelling exactly — made the uncontracted form emit a NaN cosine
    *    that survives the filter only through Spark's NaN ordering;
    *    excluded here deliberately.)
    *
    * The expansion joins are equi-joins on rep id whose output IS the pair
    * listing (output-bound by contract, like [[simhashPairs]]); the
    * expensive stage — shingling, banding, feature joins — is bounded by
    * distinct contents. Clustering consumers that don't need the listing
    * should feed [[canonicalize]] from edges instead (composition-order
    * scaladoc at the top of this file). */
  def hashedTfCosinePairs(docs: DataFrame, threshold: Double,
                          dims: Int = 64, textCol: String = "text"): DataFrame = {
    require(threshold <= 1.0,
      "identical-content expansion assumes cosine-1.0 pairs pass the filter")
    // The exact aggregate is NOT persisted: it is one md5 hash-aggregate
    // over docs, consumed by exactly two branches (member map, rep
    // semi-join) — recomputing it twice is two narrow scans, while a
    // corpus-shaped MemoryStore resident was the round-12 driver bench's
    // prime memory-bandwidth suspect on this plan (3.5× its quiet
    // envelope under ambient load). The member map IS persisted (three
    // expansion branches re-probe it, and it embeds a shuffle join), but
    // DISK_ONLY: the round-11/12 benches measured memory-resident persists
    // degrading 2.1–2.5× under MemoryStore pressure, and a local-disk
    // re-read of a 2-column long relation is cheap.
    val exactAgg = exact(docs, textCol)
    val memberOf = docs
      .select(col("doc_id"), TextStats.fingerprint(col(textCol)).as("fp"))
      .join(exactAgg.select(col("fp"), col("canonical_id").as("rep"))
        .hint("shuffle_hash"), Seq("fp"))
      .select(col("rep"), col("doc_id"))
      .persist(StorageLevel.DISK_ONLY)
    val reps = docs.join(
      exactAgg.select(col("canonical_id").as("doc_id")).hint("shuffle_hash"),
      Seq("doc_id"), "left_semi")
    val repPairs = cosineVerifyPairs(reps, threshold, dims, textCol)
    // cross-group expansion: every member inherits its rep's verified pairs
    val cross = repPairs.as("p")
      .join(memberOf.as("ma").hint("shuffle_hash"),
        col("ma.rep") === col("p.doc_a"))
      .join(memberOf.as("mb").hint("shuffle_hash"),
        col("mb.rep") === col("p.doc_b"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("p.cosine"))
    // within-group expansion, for groups whose rep would self-qualify in
    // the uncontracted chain: a signature exists (≥ 3 tokens) and the
    // cosine is defined (n2 > 0). norms' plan subtree matches the feats
    // relation cosineVerifyPairs persisted, so the cache serves it.
    val norms = hashedTfFeatures(reps, dims, textCol)
      .groupBy(col("doc_id")).agg(sum(col("v") * col("v")).as("n2"))
    val qualified = reps
      .filter(size(TextStats.tokens(col(textCol))) >= 3)
      .select(col("doc_id").as("rep"))
      .join(norms.filter(col("n2") > 0).select(col("doc_id").as("rep"))
        .hint("shuffle_hash"), Seq("rep"), "left_semi")
    val qm = memberOf.join(qualified.hint("shuffle_hash"), Seq("rep"), "left_semi")
    val within = qm.as("x")
      .join(qm.as("y").hint("shuffle_hash"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("cosine"))
    // disjoint by construction (cross spans two fingerprint groups, within
    // stays inside one), so a plain union
    cross.union(within)
  }

  /** Connected components over a near-dup pair relation: every document in a
    * transitively-connected cluster gets the cluster's minimum doc_id as its
    * component label — the "resolve pairs into clusters" step that turns any
    * pairwise dedup output ([[minhashLshPairs]], [[simhashPairs]],
    * [[hashedTfCosinePairs]], embedding near-dup) into a keep/drop decision.
    *
    * Algorithm: iterative min-label propagation with pointer jumping — each
    * round every node takes the minimum of its own label, its neighbors'
    * labels, and its label's label; converges in O(log diameter) rounds.
    * Near-dup clusters are dense and shallow (diameter ≲ 5 even for chained
    * paraphrases), so the loop is short; the `maxIters` bound caps
    * pathological chains.
    *
    * Round-11 shape — JOB economy, not just shuffle economy. Under AQE
    * every exchange materializes as its own scheduled job, and an iterative
    * loop pays ambient scheduler load once per job: the round-10 driver run
    * billed 34.2 s to this loop's canonical query (92 jobs) against a 6.5 s
    * idle-box envelope, with task run time flat — pure per-job overhead.
    * Three levers cut the job count:
    *  - MESSAGE-UNION propagation: one step is "neighbor labels ∪ own
    *    label ∪ label-of-label, then one min-aggregation keyed on node" —
    *    3 exchanges per step (labels on doc_id, labels on component, the
    *    message aggregation) instead of the former join-per-source form's
    *    6; the aggregation partial-combines map-side, so the shuffle
    *    carries at most one candidate label per node per input partition.
    *  - PRE-PARTITIONED EDGES: the edge relation — the loop's largest
    *    input — is hash-partitioned on `u` once, outside the loop, with an
    *    explicit partition count; `localCheckpoint` preserves
    *    outputPartitioning (LogicalRDD keeps it), so every per-round edge
    *    join and the seed's groupBy(u) read edges with ZERO exchange. Only
    *    the far smaller label relation shuffles per step.
    *  - OBSERVED convergence: the per-round probe rides the checkpoint
    *    materialization job itself (`Dataset.observe` + `Observation`)
    *    instead of a separate scalar-aggregate job per round.
    * Nothing corpus-sized ever reaches the driver: the observed metric is
    * one decimal per round.
    *
    * Rounds are cut with [[Checkpoints.materialized]] (eager checkpoint +
    * statistics reset), not `persist`: in an iterative DataFrame loop each
    * round's logical plan nests the previous round's (labels feeds both the
    * neighbor-min join and the fold), so with caching alone the analyzer
    * re-walks an exponentially growing plan that still embeds the whole
    * upstream pair-generation pipeline — measured 364 s at sf0.1 where
    * execution itself is ~2 s. A bare `localCheckpoint` fixes the plan but
    * carries compounding size ESTIMATES across rounds (the second
    * exponential — see Checkpoints' scaladoc; measured 272 s in one round's
    * JoinSelection at 10× sf0.1). The executor-local blocks are fine for
    * this loop's lifetime; a multi-hour pipeline on preemptible executors
    * would swap in `checkpoint()` against a reliable dir — same plan shape,
    * same stats reset.
    *
    * Returns (doc_id, component) for every doc that appears in `pairs`. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // checkpoint BEFORE the symmetrization union: its two branches would
    // otherwise each execute the (expensive) pair-generation plan. Plain
    // localCheckpoint (no stats reset) is right here: edges' carried stats
    // are a ONE-TIME constant reused identically every round — only the
    // loop-carried labels compound estimates — and the reset's Row
    // round-trip would otherwise be re-paid on every scan of the 2×|pairs|
    // edge relation in every round.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    // no pairs → no components; the loop's sum-based probe would also NPE
    // on the null aggregate of an empty label relation
    if (p.head(1).isEmpty)
      return p.select(col("doc_a").as("doc_id"), col("doc_b").as("component"))
    val sess = p.sparkSession
    // ---- Loop execution regime: non-adaptive, sized from measured data ----
    // AQE served the pair generation above (p's checkpoint is its output);
    // INSIDE the loop it is strictly counterproductive: AQE materializes
    // every exchange as its own scheduled job plus a replan pass, so one
    // 2-step round = 7 jobs (measured, sf0.1: 52 jobs / 3.5 s for the whole
    // fixpoint), and an ambient-loaded cluster or driver box taxes each job
    // separately — BENCH_r10 billed 34.2 s to a 6.5 s-envelope query almost
    // entirely through that multiplier. Worse, localCheckpoint under AQE
    // captures the adaptive plan's partitioning as unknown, so the
    // pre-partitioned edge relation re-shuffled every round anyway.
    //
    // The regime here takes AQE's one in-loop contribution — runtime size
    // facts — ONCE, from the materialized pair relation's partition count
    // (AQE already coalesced p to its data volume), then runs the loop
    // non-adaptively with exactly that sizing: shuffle.partitions pinned to
    // the measured count, edges hash-partitioned on u once (the explicit
    // count pins co-partitioning, and without AQE the LogicalRDD keeps it),
    // and each round executes as ONE job whose stages are the label
    // exchanges. At 100 TB the same logic holds: the loop's relations are
    // O(|pairs|), not corpus-sized, and their partitioning should track the
    // measured pair volume, not the session-wide corpus setting. The
    // regime ends with the loop; the returned labels are a checkpoint leaf,
    // so downstream consumers re-plan under the session's own regime.
    graft.Session.loopRegime(sess, p.rdd.getNumPartitions) {
    val loopParts = Checkpoints.shufflePartitions(sess)
    val edges = p
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
      // ONE setup exchange: repartition on u, then dedup as a hash
      // aggregate over (u, v) — hashpartitioning(u) satisfies the
      // aggregate's clustered-by-(u,v) requirement (subset rule), so
      // dropDuplicates adds no shuffle and the leaf keeps partitioning(u)
      .repartition(loopParts, col("u"))
      .dropDuplicates("u", "v")
      .localCheckpoint() // eager: leaves the loop entirely; keeps partitioning
    // the first propagation round folded into the seed: label₀ = min(own id,
    // direct neighbors) costs one aggregation here instead of a full
    // checkpoint+probe cycle in the loop — and with edges pre-partitioned
    // on u the seed's groupBy(u) is exchange-free
    var labels = Checkpoints.materialized(edges
      .groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("__nb"))
      .select(col("doc_id"),
        least(col("doc_id"), col("__nb")).as("component")))

    // One propagation step, message-union form: every node's next label is
    // the min over (neighbors' labels ∪ its own label ∪ its label's label).
    // The self message doubles as the "no neighbor update" identity the old
    // left-join/coalesce form needed; the chain message is the pointer
    // jump. Both label exchanges here (doc_id for the edge join's build
    // side and the chain's l2, component for the chain's l1) are the only
    // per-step shuffles of existing relations — the edge side is
    // pre-partitioned — and ReuseExchange serves l2 from the doc_id
    // exchange. Chain is an inner join: component values are doc_ids of the
    // same label relation (min over member ids), so every l1 row matches
    // exactly one l2 row and cardinality is preserved.
    def propagate(l: DataFrame): DataFrame = {
      val nbr = edges.as("e")
        .join(l.as("lb").hint("shuffle_hash"), col("e.u") === col("lb.doc_id"))
        .select(col("e.v").as("dst"), col("lb.component").as("lab"))
      val self = l.select(col("doc_id").as("dst"), col("component").as("lab"))
      val chain = l.as("l1")
        .join(l.as("l2").hint("shuffle_hash"),
          col("l1.component") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("dst"), col("l2.component").as("lab"))
      nbr.unionAll(self).unionAll(chain)
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("lab")).as("component"))
    }

    // Convergence probe: labels only ever DECREASE, so one propagation step
    // that leaves sum(component) unchanged changed NO label (monotone
    // per-element decrease + equal sum ⇒ element-wise equality ⇒ the step
    // was the identity ⇒ fixpoint). The sum AFTER EVERY FUSED STEP is
    // observed during the round's one checkpoint-materialization job
    // (CollectMetrics accumulates while the plan executes; exact decimal —
    // long sums overflow once id·count exceeds 2⁶³), so convergence costs
    // zero extra jobs AND is detected at step granularity: two adjacent
    // equal sums inside a round end the loop without a separate confirming
    // round when the fixpoint lands mid-round. TWO steps are fused per
    // checkpoint — the checkpoint is the expensive per-round job and the
    // depth-2 plan between leaves stays constant-size. Not more: each
    // step's output feeds THREE consumers in the next step (edge-join
    // build, self message, chain l1/l2), and without AQE's per-stage
    // materialization a non-exchange-bounded subtree re-executes per
    // consumer, so upstream work grows ~3^(depth-1) — measured 98 s task
    // time at depth 3 vs 6.4 s at depth 2 on the same corpus. An explicit
    // repartition boundary between steps does not help: the step output
    // already carries that exact partitioning, so the optimizer collapses
    // the no-op exchange and the re-execution stays.
    val fused = 2
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val obs = (1 to fused).map(k =>
        org.apache.spark.sql.Observation(s"cc-$iter-$k-${System.nanoTime()}"))
      var stepped = labels
      for (k <- 0 until fused) {
        stepped = propagate(stepped)
          .observe(obs(k), sum(col("component").cast("decimal(38,0)")).as("s"))
      }
      val next = Checkpoints.materialized(stepped)
      val sums = obs.map(o => BigDecimal(o.get.apply("s").toString))
      converged = sums.sliding(2).exists(w => w.head == w.last)
      labels = next
      iter += 1
    }
    labels
    }
  }

  /** Corpus-wide canonical assignment from a pair relation: every doc gets
    * `canonical_id` = min doc_id of its near-dup cluster (itself when it has
    * no near-dup), plus an 0/1 keep flag. The downstream dedup filter is
    * `is_canonical = 1`. The left join is an equi-join on doc_id; the
    * component side carries reset (default) statistics after the loop's
    * checkpoints, so the static planner won't auto-broadcast it — AQE's
    * runtime conversion picks broadcast when the materialized size is small,
    * and at 100 TB (where the paired set can be huge) the shuffled equi-join
    * is the right plan anyway. */
  def canonicalize(docs: DataFrame, pairs: DataFrame,
                   maxIters: Int = 20): DataFrame =
    canonicalizeFrom(docs, connectedComponents(pairs, maxIters))

  /** SimHash fingerprint (`bits` as a bitstring, default 64): bit i is the
    * sign of the count-weighted sum of ±1 over tokens, where token bit i =
    * "is the i-th hex nibble of md5(token)·md5('#'+token) ≥ 8". Pure
    * hash-agg: one groupBy(doc, token) then one groupBy(doc) with `bits`
    * conditional sums.
    *
    * 64 bits (not 32): banding blocks candidate pairs on bit-prefix
    * equality, and with b bands the band width is bits/b — too few bits per
    * band makes every same-ish-distribution document collide and the
    * verification join goes quadratic (measured: 32-bit/8-bit-band pairs
    * were ~50× slower at sf0.1 than 64-bit/16-bit-band). */
  def simhash(docs: DataFrame, bits: Int = 64, textCol: String = "text"): DataFrame = {
    require(bits <= 64, "nibble source is 2×md5 = 64 hex chars")
    val tok = Checkpoints.spread(docs)
      .select(col("doc_id"), explode(TextStats.tokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", concat(fastMd5(col("t")), fastMd5(concat(lit("#"), col("t")))))
    val bitCols = (0 until bits).map { i =>
      when(sum(when(substring(col("h"), i + 1, 1) >= "8", col("cnt"))
        .otherwise(-col("cnt"))) > 0, "1").otherwise("0")
    }
    tok.groupBy(col("doc_id"))
      .agg(concat(bitCols: _*).as("simhash"))
  }

  /** SimHash near-dup pairs: block on `bands` equal-width bit-prefix bands
    * (pigeonhole guarantees no misses up to hamming < bands), verify hamming
    * distance ≤ maxHamming.
    *
    * The verification is integer XOR + bit_count over per-band chunks
    * parsed once per doc BEFORE the join — 4 codegen'd ops per candidate
    * pair, not 2·bits substring calls (measured ~20× on the band-join
    * output); the ≤ maxHamming filter runs before the pair distinct so the
    * shuffle carries only survivors. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
                   bands: Int = 4, textCol: String = "text"): DataFrame = {
    // Persisted: the parsed-chunk signature is both self-join sides; the
    // 64-conditional-sum simhash aggregation is the thing to compute once.
    val sc = simhashChunks(docs, bits, bands, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    simhashBandPairs(sc, maxHamming, bands)
  }

  /** (doc_id, c0..c{bands-1}) — the simhash bitstring parsed once per doc
    * into per-band long chunks, the join-ready signature form. */
  private def simhashChunks(docs: DataFrame, bits: Int, bands: Int,
                            textCol: String): DataFrame = {
    require(bits % bands == 0 && bits / bands <= 62, "chunk must fit a long")
    val width = bits / bands
    val chunkCols = (0 until bands).map(b =>
      conv(substring(col("simhash"), b * width + 1, width), 2, 10)
        .cast("long").as(s"c$b"))
    simhash(docs, bits, textCol).select(col("doc_id") +: chunkCols: _*)
  }

  /** Band self-join + hamming verification over a chunked signature frame
    * (shared by [[simhashPairs]] and the representative join in
    * [[simhashEdges]]). */
  private def simhashBandPairs(sc: DataFrame, maxHamming: Int,
                               bands: Int): DataFrame = {
    val bandRows = sc.select(col("*"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"c$b").as("bkey"))): _*)).as("bb"))
      .select((col("doc_id") +: (0 until bands).map(b => col(s"c$b"))) :+
        col("bb.band").as("band") :+ col("bb.bkey").as("bkey"): _*)
    val hamming = (0 until bands)
      .map(b => bit_count(col(s"x.c$b").bitwiseXOR(col(s"y.c$b"))))
      .reduce(_ + _)
    bandRows.as("x").hint("shuffle_hash")
      .join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-duplicate IMAGE pairs over a 64-bit perceptual-hash signature
    * frame (doc_id, c0..c3 — the four 16-bit chunks
    * `Multimodal.imageDHash` emits): the same banded self-join + hamming
    * verification as [[simhashPairs]], because a perceptual hash IS a
    * simhash over visual content — pigeonhole blocking on chunk equality
    * guarantees no misses up to hamming < bands, XOR+bit_count verifies.
    * Identical images (hamming 0, the re-encode/rescale case) pair here;
    * on replica-saturated image corpora feed [[contractSignatures]]-style
    * edges to the CC machinery instead of listing m²/2 pairs — the exact
    * [[simhashEdges]] argument, unchanged, since band agreement is a
    * function of the signature alone. */
  def imageHashPairs(sig: DataFrame, maxHamming: Int = 3,
                     bands: Int = 4): DataFrame = {
    // persisted (fixed-width, 5 longs/row): the signature frame is both
    // band-join sides, and upstream of it sits the per-image DECODE — the
    // most expensive subtree in this file; recomputing it per join side
    // would double the codec work. Same cache-lifetime contract as
    // contractSignatures' scaladoc.
    val cached = sig
      .select(col("doc_id") +: (0 until bands).map(b => col(s"c$b")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    simhashBandPairs(cached, maxHamming, bands)
  }

  /** Signature-contracted spanning edges over identical-signature groups:
    * aggregate each group to its min-doc_id representative, star-connect
    * members to it, and return (star edges, representative signature
    * frame).
    *
    * Deliberately groupBy + join-back, NOT `min over (partition by sig)`:
    * the operator's whole point is million-deep identical-signature groups,
    * and a window partitioned by the signature hands each group to ONE task
    * that must sort it (WindowExec) — unsplittable skew at exactly the
    * corpora this targets. The hash aggregate partial-aggregates map-side
    * (each mapper emits one candidate min per signature it sees), and the
    * join back is an equi-join AQE's skew handling CAN split; on
    * duplicate-heavy corpora the rep relation is far smaller than the
    * corpus and AQE broadcasts it outright. The rep signature frame is the
    * aggregate itself — no second join.
    *
    * `sig` is PERSISTED: it feeds the aggregate and the star join probe —
    * without the cache the expensive signature build re-runs. Shared by
    * [[simhashEdges]] and [[minhashLshEdges]].
    *
    * Cache-lifetime note (applies to every operator here returning a lazy
    * frame over a persisted input, see also [[minhashLshPairs]] /
    * [[simhashPairs]] / [[hashedTfCosinePairs]]): the pinned frames live
    * until the session drops them — an operator returning a LAZY result has
    * no sound point to unpersist (the caller may execute the plan any
    * number of times). Long-lived library sessions that interleave many
    * dedup calls should bound MemoryStore pressure between pipelines via
    * [[graft.Session.reset]]. MEMORY_AND_DISK (not MEMORY_ONLY) keeps
    * eviction from silently re-running the signature build mid-plan. */
  private def contractSignatures(sig: DataFrame, sigColNames: Seq[String])
      : (DataFrame, DataFrame) = {
    val sigCols = sigColNames.map(col)
    val cached = sig.persist(StorageLevel.MEMORY_AND_DISK)
    val reps = cached.groupBy(sigCols: _*)
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id") +: sigCols: _*)
    val stars = cached
      .join(reps.select(col("doc_id").as("__rep") +: sigCols: _*),
        sigColNames)
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
    (stars, reps)
  }

  /** Near-dup edges for CLUSTERING consumers ([[connectedComponents]] /
    * [[canonicalize]]): a spanning edge set whose transitive closure equals
    * [[simhashPairs]]' — with the all-pairs blowup on duplicate-saturated
    * corpora contracted away.
    *
    * Why it is safe: hamming distance is a function of the SIGNATURE alone,
    * so documents with identical simhash have identical neighbor sets.
    * Contract each identical-signature group to its min-doc_id
    * representative via star edges (hamming 0 — a genuine near-dup edge for
    * any maxHamming ≥ 0), and run the band self-join on representatives
    * only. Any full-graph edge (a, b) becomes the path a—rep(a)—rep(b)—b,
    * and every star edge is itself a full-graph edge, so the components
    * (and their min labels, and the doc coverage) are identical. Note this
    * is NOT the naive "one star per band bucket" rewrite — that would
    * fabricate edges between same-bucket documents that FAIL hamming
    * verification.
    *
    * Why it matters at 100 TB: a replica group of m identical documents
    * emits m−1 star edges here versus m²/2 verified pairs in
    * [[simhashPairs]] — and real crawled corpora are exactly replica-
    * saturated (the round-7 100× probe's ~25 M input pairs into
    * `dd_cluster_canonical` were dominated by its planted replica groups).
    * Everything downstream — including the CC loop, whose per-round cost is
    * edge-bound — shrinks |group|-fold. Pair-LISTING queries keep
    * [[simhashPairs]]: their output contract is every verified pair with
    * its distance. */
  def simhashEdges(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
                   bands: Int = 4, textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0,
      "star edges assume hamming-0 pairs pass the filter")
    val sc = simhashChunks(docs, bits, bands, textCol)
    val (stars, reps) = contractSignatures(sc, (0 until bands).map(b => s"c$b"))
    // disjoint by construction (a star's doc_b is never a representative),
    // so a plain union — no distinct over the combined edge set
    stars.union(
      simhashBandPairs(reps, maxHamming, bands).select(col("doc_a"), col("doc_b")))
  }

  /** MinHash analogue of [[simhashEdges]]: band agreement is also a function
    * of the signature alone (identical signatures agree at exactly 1.0 ≥ any
    * threshold ≤ 1), so the same contraction yields a spanning edge set whose
    * closure equals [[minhashLshPairs]]' — for feeding
    * [[connectedComponents]] / [[canonicalize]] when the pair volume, not
    * the pair list, is the cost. */
  def minhashLshEdges(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5, textCol: String = "text"): DataFrame = {
    val (stars, repPairs) = minhashStarsAndRepPairs(docs, numHashes, bands,
      threshold, textCol)
    stars.union(repPairs)
  }

  private[graft] def minhashStarsAndRepPairs(docs: DataFrame, numHashes: Int,
                                      bands: Int, threshold: Double,
                                      textCol: String): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold <= 1.0,
      "star edges assume identical signatures pass the agreement filter")
    val sig = minhashSignature(docs, numHashes, textCol)
    val (stars, reps) =
      contractSignatures(sig, (0 until numHashes).map(i => s"h$i"))
    val br = bandRows(reps, numHashes, bands)
    val repPairs = br.as("x").hint("shuffle_hash")
      .join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bandAgreement(numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    (stars, repPairs)
  }

  /** Components of (stars ∪ repPairs) WITHOUT feeding the stars into the
    * fixpoint: run [[connectedComponents]] on the rep-rep edges only, then
    * assign members through the star map in one join.
    *
    * Why the labels are identical: every member's doc_id is > its rep's
    * (the rep is its group's minimum), so the minimum over any cluster
    * equals the minimum over the cluster's REPS — which is exactly the
    * rep-graph component label. Members inherit it; a rep whose group has
    * members but no rep-pair edge labels its own cluster. The fixpoint —
    * the expensive iterative part — thus never iterates over the degree-1
    * star nodes: on a duplicate-saturated corpus both its edge relation
    * and its label relation shrink from O(docs) to O(distinct contents
    * with near-dups). */
  private def contractedComponents(stars: DataFrame,
                                   repPairs: DataFrame): DataFrame = {
    // Persisted: stars feeds the member-assignment join and the
    // unpaired-rep anti-join (and its lineage contains the signature
    // aggregation, which must not re-run).
    val st = stars.persist(StorageLevel.MEMORY_AND_DISK)
    val repComp = connectedComponents(repPairs)
    val memberComp = st.as("s")
      .join(repComp.as("rc"), col("s.doc_a") === col("rc.doc_id"), "left")
      .select(col("s.doc_b").as("doc_id"),
        coalesce(col("rc.component"), col("s.doc_a")).as("component"))
    val unpairedReps = st.select(col("doc_a").as("doc_id")).distinct()
      .join(repComp, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    repComp.union(memberComp).union(unpairedReps)
  }

  /** (doc_id, component) over every doc with a simhash near-dup, computed
    * via [[contractedComponents]] — the clustering entry point the
    * `dd_cluster_canonical` query ships. Same labels as
    * `connectedComponents(simhashEdges(docs))`, with the fixpoint running
    * on rep-rep edges only. */
  def simhashComponents(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
                        bands: Int = 4, textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0,
      "star edges assume hamming-0 pairs pass the filter")
    val sc = simhashChunks(docs, bits, bands, textCol)
    val (stars, reps) = contractSignatures(sc, (0 until bands).map(b => s"c$b"))
    contractedComponents(stars,
      simhashBandPairs(reps, maxHamming, bands).select(col("doc_a"), col("doc_b")))
  }

  /** MinHash analogue of [[simhashComponents]]. */
  def minhashLshComponents(docs: DataFrame, numHashes: Int = 16,
                           bands: Int = 4, threshold: Double = 0.5,
                           textCol: String = "text"): DataFrame = {
    val (stars, repPairs) = minhashStarsAndRepPairs(docs, numHashes, bands,
      threshold, textCol)
    contractedComponents(stars, repPairs)
  }

  /** The composed production pipeline from the composition-order contract
    * at the top of this file, end-to-end: exact dedup FIRST (collapse
    * identical copies for one (hash, id) shuffle — so the near-dup stage
    * never shingles or bands a duplicate-saturated corpus), minhash edges
    * over the SURVIVORS only, transitive closure, then every original doc
    * routed through its exact canonical to the cluster canonical. Ships as
    * the `dd_pipeline_canonical` query (standalone clustering:
    * `dd_cluster_minhash`).
    *
    * Output: (doc_id, canonical_id, is_canonical) over every input doc. */
  def pipelineCanonical(docs: DataFrame, threshold: Double = 0.5,
                        numHashes: Int = 16, bands: Int = 4,
                        textCol: String = "text"): DataFrame = {
    // Persisted: feeds both the doc→exact-canonical map and the survivor
    // semi-join — without the cache the corpus fingerprint groupBy runs
    // twice. Fixed-width rows (fp + two longs).
    val exactAgg = exact(docs, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exactCanon = docs
      .select(col("doc_id"), TextStats.fingerprint(col(textCol)).as("fp"))
      .join(exactAgg.select(col("fp"), col("canonical_id").as("exact_canon")),
        Seq("fp"))
      .select(col("doc_id"), col("exact_canon"))
    val survivors = docs.join(
      exactAgg.select(col("canonical_id").as("doc_id")), Seq("doc_id"),
      "left_semi")
    val canon = canonicalizeFrom(survivors,
      minhashLshComponents(survivors, numHashes, bands, threshold, textCol))
    exactCanon
      .join(canon.select(col("doc_id").as("exact_canon"), col("canonical_id")),
        Seq("exact_canon"))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("long").as("is_canonical"))
  }

  /** Incremental connected-components maintenance — the operational form of
    * clustering at 100 TB: a new batch arrives, its pairs against the
    * stored corpus (from [[minhashLshPairsAgainst]]) and within itself are
    * discovered, and the STORED (doc_id, component) relation is updated
    * WITHOUT re-clustering the corpus. The classic quotient-graph argument
    * makes this exact: stored clusters are internally connected, so
    * contracting each to its label and running the fixpoint on the new
    * pairs' label-label edges yields the same components as a full
    * recompute over all pairs — and since every stored label is the min
    * doc_id of its cluster and new nodes self-label, the merged label
    * (min of merged labels) is again the global min doc_id. The
    * `dd_incremental_cc` oracle exploits that literally: its DuckDB side
    * IS the full-recompute closure.
    *
    * Cost: the fixpoint input is |new pairs| edges — batch-sized, not
    * corpus-sized; the corpus pays two broadcast-able lookups of the pair
    * endpoints and one join to re-label affected members. Unaffected
    * clusters keep their labels through the coalesce, untouched.
    *
    * `storedComponents`: (doc_id, component) as [[minhashLshComponents]]
    * emits (docs without near-dups may be absent — they self-label).
    * `newPairs`: (doc_a, doc_b) — batch↔corpus and batch↔batch pairs.
    * Returns (doc_id, component) for every stored doc and every pair
    * endpoint. */
  def incrementalComponents(storedComponents: DataFrame,
                            newPairs: DataFrame): DataFrame = {
    // both relations feed two consumers each (endpoint lookups + the
    // member/new-node unions) — persist, same contract as triangleCounts
    val comp = storedComponents.select(col("doc_id"), col("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val p = newPairs.select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repPairs = p
      .join(comp.select(col("doc_id").as("doc_a"), col("component").as("ra")),
        Seq("doc_a"), "left")
      .join(comp.select(col("doc_id").as("doc_b"), col("component").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("u"),
        coalesce(col("rb"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("doc_a"),
        greatest(col("u"), col("v")).as("doc_b"))
      .distinct()
    val upd = connectedComponents(repPairs)
    val newNodes = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep"))
    val members = comp.select(col("doc_id"), col("component").as("rep"))
      .union(newNodes)
    members
      .join(upd.select(col("doc_id").as("rep"), col("component")),
        Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("rep")).as("component"))
  }

  /** [[canonicalize]] from a precomputed component relation (the tail of
    * canonicalize, shared with the contracted clustering entry points). */
  def canonicalizeFrom(docs: DataFrame, components: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(components, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
      .withColumn("is_canonical",
        (col("doc_id") === col("canonical_id")).cast("long"))

  /** Cluster-size histogram over a component assignment — the dedup
    * diagnostic read before choosing thresholds: (cluster_size,
    * n_clusters, n_docs), one row per distinct size.
    *
    * Runs its downstream ([[canonicalizeFrom]]'s left join + two
    * count-aggregates) as ONE non-adaptive job, eagerly materialized:
    * under AQE every exchange of the chain is scheduled as its own job
    * plus a replan pass (4–5 jobs for this shape), and on a loaded
    * driver box each job boundary bills ambient wait separately — the
    * same per-job tax the CC fixpoint's regime exists to avoid
    * (BENCH_r13 billed dd_cluster_sizes ×2.6 its quiet point with task
    * time only ×1.16: pure job-gap). AQE has nothing to offer here —
    * both aggregates collapse to a handful of rows, and the join picks
    * the same shuffled plan either way (the component side's stats are
    * reset by the loop's checkpoints). AQE is off only for this one
    * materialization; the histogram itself is a few-dozen-row leaf, so the
    * eager materialization is free and downstream consumers replay no
    * work. */
  def clusterSizeHistogram(docs: DataFrame, components: DataFrame): DataFrame =
    graft.Session.nonAdaptive(docs.sparkSession) {
      Checkpoints.materialized(
        canonicalizeFrom(docs, components)
          .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs")))
    }

  /** Keep-POLICY selection over near-dup clusters: where
    * [[canonicalizeFrom]] keeps the min-id member (an arbitrary but stable
    * choice), production dedup usually keeps the BEST member — here the one
    * maximizing `scoreCol` (longest, highest quality score, …), ties broken
    * toward the smaller id so the output is total-order deterministic.
    * Emits (doc_id, keep_id, is_kept) for every input doc.
    *
    * Scale shape: one hash-aggregate `max_by` per cluster (the struct
    * ordering (score, −id) realizes argmax-then-min-id in a single pass,
    * map-side combinable — NOT a per-cluster window, which would sort
    * million-deep duplicate clusters in single tasks) plus one equi-join
    * back on the cluster label. Both relations are O(|docs|); nothing
    * scales with cluster depth. */
  def keepBest(docs: DataFrame, components: DataFrame, scoreCol: String,
               idCol: String = "doc_id"): DataFrame = {
    val labeled = docs.select(col(idCol), col(scoreCol))
      .join(components, Seq(idCol), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("component"), col(idCol)).as("__cluster"))
    val best = labeled.groupBy(col("__cluster"))
      .agg(max_by(col(idCol),
        struct(col(scoreCol), (-col(idCol)).as("__nid"))).as("keep_id"))
    labeled.join(best, "__cluster")
      .select(col(idCol), col("keep_id"),
        (col(idCol) === col("keep_id")).cast("long").as("is_kept"))
  }

  /** Centrality keep-policy: keep each cluster's highest-DEGREE member in
    * the near-dup graph (ties → min id) — the no-quality-score fallback a
    * production pipeline uses when nothing better than "most connected =
    * most representative" is available (a hub that near-matches every
    * cluster member is a safer canonical than an arbitrary min-id member
    * that may sit at the cluster's edge).
    *
    * Degree semantics follow the PAIR relation the caller passes: the
    * verified pair LISTING gives true near-dup degree; the contracted edge
    * feed ([[simhashEdges]]/[[minhashLshEdges]]) gives the cheap proxy
    * where a replica group's representative carries its star degree —
    * choose per the same listing-vs-clustering contract those operators
    * document. Scale shape: degree is one map-side-combinable count over
    * the exploded edge endpoints, then exactly [[keepBest]]'s single
    * `max_by` hash-aggregate + join-back — nothing scales with cluster
    * depth. */
  def keepCentral(docs: DataFrame, pairs: DataFrame, components: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__degree"))
    val scored = docs.select(col(idCol))
      .join(deg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__degree"), lit(0L)).as("__degree"))
    keepBest(scored, components, "__degree", idCol)
  }

  /** PageRank-lite centrality over the (undirected) near-dup graph —
    * `iters` fixed rounds of r'(v) = 150000 + (850000·Σ_{u∼v} ⌊r(u)/deg(u)⌋)
    * div 10⁶ in integer parts-per-million (damping 0.85, uniform start
    * 10⁶ ppm per node) — the graded refinement of [[keepCentral]]'s raw
    * degree: a member connected to other WELL-CONNECTED members outranks
    * one with the same degree hanging off the cluster edge. Every
    * division is integer `div`, so the trajectory is bit-identical in any
    * engine (an unrolled-rounds oracle, the kmeans/BPE convention; the
    * per-step ⌊·⌋ mass loss is deterministic and shared).
    *
    * Scale shape: degrees once (map-side count), then per round ONE
    * node-keyed join (ranks ⋈ degrees → contributions) + ONE edge-keyed
    * join + aggregate — all relations node- or edge-sized, loop-carried
    * ranks go through [[Checkpoints.materialized]] like the CC fixpoint
    * so plan statistics never compound. Rounds are a fixed parameter
    * (centrality ranking stabilizes in a few rounds on cluster-sized
    * components; this is a diagnostics operator, not a web-graph solver).
    * The loop-invariant edge/degree relations persist DISK_ONLY, not
    * MEMORY_AND_DISK — the round-11 bench measured memory-resident
    * persists degrading 2.1–2.5× under ambient MemoryStore pressure
    * (same rationale as the winnow/ngram rebuilds); they are re-read
    * each round but small, so local-disk reads are the cheap direction.
    * Int64 headroom: Σ ranks per receiving node is bounded by the graph's
    * total mass ≈ |nodes|·10⁶, so 850000·Σ stays inside int64 up to
    * ~10⁷-node graphs — the post-contraction dedup graphs this targets,
    * not raw web graphs. Past that bound the operator FAILS LOUDLY
    * ([[segmentDedup]]'s per-row `raise_error` discipline) at the first
    * node whose 850000·Σ would overflow, instead of silently wrapping
    * rank sums. Emits (doc_id, rank_ppm) for every node WITH an
    * edge; an edge-less doc is rank 150000 by the same formula (callers
    * coalesce). */
  def pageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist(StorageLevel.DISK_ONLY)
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.DISK_ONLY)
    // 850000·s must stay inside int64: s ≤ ⌊Long.MaxValue / 850000⌋.
    val sBound = Long.MaxValue / 850000L
    val newRank = when(col("s") <= lit(sBound),
        expr("150000 + 850000 * s div 1000000"))
      .otherwise(raise_error(format_string(
        "pageRank: incoming rank mass %d at node %d exceeds the int64 " +
          "headroom of the integer-ppm formulation (~1e7-node bound)",
        col("s"), col("v"))).cast("long"))
    var ranks = deg.select(col("u").as("doc_id"), lit(1000000L).as("rank_ppm"))
    // Non-adaptive loop regime (r20; the connectedComponents convention):
    // AQE materializes each of the round's exchanges as its own scheduled
    // job + replan (~6 jobs/round at sf0.1); with it off the whole
    // contribution→scatter→fold round executes as ONE job over the
    // node/edge-sized loop relations. The edge cache is FORCED first, so
    // the upstream pair GENERATION (corpus-shaped, where AQE's skew/size
    // adaptivity belongs) still runs adaptively — only the loop doesn't.
    // pin the loop's shuffle width from the MEASURED edge count (the
    // connectedComponents sizing idea; rdd.getNumPartitions would read
    // the union's concatenated pre-execution estimate): ~1M edges per
    // loop partition, floor 2 — non-adaptive stages at the session width
    // would run 32 micro-tasks per node-sized aggregate.
    val edgeRows = e.count()
    graft.Session.loopRegime(pairs.sparkSession, (edgeRows / 1000000L).toInt + 1) {
      for (_ <- 1 to iters) {
        val contrib = ranks
          .join(deg, ranks("doc_id") === deg("u"))
          .select(col("u"), expr("rank_ppm div d").as("c"))
        ranks = Checkpoints.materialized(
          e.join(contrib, "u")
            .groupBy(col("v"))
            .agg(sum(col("c")).as("s"))
            .select(col("v").as("doc_id"), newRank.as("rank_ppm")))
      }
    }
    ranks
  }

  /** Sub-document (segment-level) exact dedup, the C4/CCNet "remove
    * duplicated lines/paragraphs across the corpus" pass: split each doc
    * into fixed non-overlapping `segTokens`-token segments
    * ([[Packing.chunkSliding]] with stride = segTokens; the corpus has no
    * line structure, so fixed token windows are the segment unit), keep
    * only the globally FIRST occurrence of each distinct segment content
    * (min (doc_id, chunk_id) — deterministic), and reassemble each doc's
    * surviving segments in document order.
    *
    * Scale shape: fingerprint hash-aggregate (`min` over (doc_id,
    * chunk_id) PACKED into one long — a struct-typed min falls back to
    * SortAggregate, which sorts the whole segment relation; the packed
    * long keeps the whole-stage-codegen HashAggregate, map-side
    * combinable, never a per-fingerprint window: boilerplate segments can
    * repeat millions of times and a window would sort each posting in one
    * task), one equi-join back on the 16-byte fingerprint, then a per-doc
    * hash-aggregate whose `collect_list` is bounded by segments-per-doc
    * (document length / segTokens), not corpus size. Everything is
    * O(total segments) with no window over corpus-scale relations; the
    * left join restores docs whose every segment lost (clean_text = '').
    *
    * Packing bounds (checked per row, `raise_error` on violation, cost one
    * branch): chunk_id < 2²² (docs up to ~4 M segments ≈ 40 M tokens at
    * segTokens = 10) and doc_id ∈ [0, 2⁴¹) — the packed order is then
    * exactly the lexicographic (doc_id, chunk_id) order.
    *
    * `withinDoc = true` scopes first-occurrence to EACH document (the
    * Gopher-style in-document repetition cleaning pass: a segment repeated
    * inside one doc keeps its first copy there, and identical content in
    * another doc is untouched): the aggregate and join keys gain doc_id,
    * everything else — including the scale shape — is unchanged. */
  def segmentDedup(docs: DataFrame, segTokens: Int,
                   textCol: String = "text",
                   withinDoc: Boolean = false): DataFrame = {
    val packed = when(
      col("chunk_id") < lit(1L << 22) && col("chunk_id") >= 0 &&
        col("doc_id") >= 0 && col("doc_id") < lit(1L << 41),
      shiftleft(col("doc_id"), 22) + col("chunk_id"))
      .otherwise(raise_error(format_string(
        "segmentDedup: (doc_id, chunk_id)=(%d, %d) outside packable range",
        col("doc_id"), col("chunk_id"))))
    val segs = Packing.chunkSliding(docs, segTokens, segTokens,
        textCol = textCol)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        fastMd5(col("chunk_text")).as("__fp"), packed.as("__pos"))
    val keys = if (withinDoc) Seq("doc_id", "__fp") else Seq("__fp")
    val first = segs.groupBy(keys.map(col): _*)
      .agg(min(col("__pos")).as("__first"))
    val flagged = segs.join(first, keys)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        (col("__pos") === col("__first")).as("__keep"))
    val perDoc = flagged.groupBy(col("doc_id")).agg(
      sum(col("__keep").cast("long")).as("kept_segments"),
      (count(lit(1)) - sum(col("__keep").cast("long")))
        .as("dropped_segments"),
      array_join(transform(
        array_sort(collect_list(when(col("__keep"),
          struct(col("chunk_id"), col("chunk_text"))))),
        s => s.getField("chunk_text")), " ").as("clean_text"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        coalesce(col("dropped_segments"), lit(0L)).as("dropped_segments"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-node triangle/wedge counts over a near-dup pair relation — the
    * graph-density diagnostic read alongside `dd_cluster_sizes`'s
    * histogram before choosing thresholds: triangles ≈ wedges means tight
    * clique-like clusters (safe to collapse); triangles ≪ wedges means
    * chained hubs where transitive closure over-merges.
    *
    * Algorithm: degree-ordered triangle enumeration (the MapReduce-classic
    * Suri–Vassilvitskii / Schank ordering). Every edge is oriented from its
    * ≺-smaller endpoint under the total order ≺ = (degree, id); each
    * triangle u≺v≺w is then generated EXACTLY once as the wedge
    * (u→v, u→w) closed by the oriented edge v→w. The orientation is the
    * whole scale story: forward out-degree is O(√|E|) even on a
    * hub-and-spoke graph (a 10⁶-degree hub ranks ≺-ABOVE its spokes, so
    * the 10¹² spoke-pairs wedge blowup never materializes — the hub gets
    * out-degree ~0, and each spoke pairs only with its few same-rank
    * neighbors). Both wedge-build and close are equi-joins on node keys;
    * nothing is quadratic in degree.
    *
    * Output: (doc_id, degree, wedges, triangles) for every node in
    * `pairs`, wedges = C(degree, 2) — the local-clustering numerator and
    * denominator, integer-exact. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // canonicalize + dedup defensively: a duplicate or flipped listing of
    // the same undirected edge would otherwise double-orient it and
    // double-count every triangle it closes.
    // PERSISTED: the edge relation feeds the symmetric-degree union (2×),
    // the orientation join, and — via `oriented` below — both wedge sides
    // plus the closing semi-join; without the cache each reference
    // re-executes the upstream pair-GENERATION pipeline (minhash shingle →
    // band → verify), measured 11.5 s → ~4 s at sf0.1 for the
    // dd_graph_triangles query. Fixed-width two-long rows, same class as
    // the signature persist in minhashLshPairs.
    val p = pairs.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = p.union(p.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").distinct()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .select(col("u").as("node"), col("degree"))
    // orient by the (degree, id) total order; carry the destination's rank
    // key so the wedge join can enforce v ≺ w without re-joining degrees
    val ranked = p
      .join(deg.select(col("node").as("doc_a"), col("degree").as("da")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("degree").as("db")), "doc_b")
    val ka = struct(col("da").as("d"), col("doc_a").as("i"))
    val kb = struct(col("db").as("d"), col("doc_b").as("i"))
    // persisted for the same reason: referenced by both wedge sides and
    // the closing-edge semi-join
    val oriented = ranked.select(
        when(ka < kb, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(ka < kb, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(ka < kb, kb).otherwise(ka).as("dst_key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst_key") < col("e2.dst_key"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val triangles = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
    val perNode = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("degree"),
        expr("degree * (degree - 1) div 2").as("wedges"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
