package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel

/** Stateful / windowed Structured Streaming operators — the scale path
  * beyond the reference's stateless memory-sink split (SURVEY.md §2.10):
  * once the corpus outgrows recompute-on-read, aggregation moves INTO the
  * stream with watermarked event-time windows, and latest-per-key becomes
  * incremental state instead of a full-table rank.
  *
  * Scale notes: watermarks bound state (late rows beyond the delay are
  * dropped — a policy change vs the reference's "late rows appear on next
  * query", made explicit here); state is partitioned by key, so both
  * operators scale with key cardinality like any keyed shuffle.
  */
object StreamOps {

  /** Watermarked event-time windowed rollup: count/avg per (window, code).
    * Append mode emits a window once the watermark passes its end. */
  def windowedRollup(stream: DataFrame, windowLength: String,
                     watermarkDelay: String): DataFrame =
    stream
      .withWatermark("event_timestamp", watermarkDelay)
      .groupBy(window(col("event_timestamp"), windowLength), col("code"))
      .agg(count(lit(1)).as("n_rows"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("code"), col("n_rows"), col("avg_value"))

  /** Watermarked streaming sessionization: the STREAMING form of
    * [[graft.ops.Sequences.sessionize]] — `session_window` merges events
    * closer than the gap into one growing session per key; append mode
    * finalizes a session once the watermark passes its (last event + gap)
    * end, so state per key is bounded by one open session. Batch and
    * stream share the same window semantics (end-exclusive, end = last
    * event + gap), which the spec pins by running both on one input. */
  def sessionizeStream(stream: DataFrame, gapMinutes: Int,
                       watermarkDelay: String): DataFrame =
    stream
      .withWatermark("event_timestamp", watermarkDelay)
      .groupBy(col("location"),
        session_window(col("event_timestamp"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("location"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))

  /** The running latest-observation-per-location as incremental state
    * (streaming D1): mapGroupsWithState keeps one row per key and updates
    * it when a newer (event_timestamp, event_id) arrives. */
  case class ObsState(location: String, event_timestamp: java.sql.Timestamp,
                      event_id: Long, code: String, value: Double)

  def latestPerKeyStateful(stream: Dataset[ObsState]): Dataset[ObsState] = {
    val spark = stream.sparkSession
    import spark.implicits._
    // MICROSECOND ordering, not Timestamp.getTime (ms): the batch D1
    // operator and its oracle rank by the full µs event time, and two
    // same-user events inside one millisecond would tie here and fall to
    // event_id where the batch form correctly prefers the later µs.
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    stream
      .groupByKey(_.location)
      .mapGroupsWithState[ObsState, ObsState](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ObsState], state: GroupState[ObsState]) =>
          val candidates = rows ++ state.getOption.iterator
          val latest = candidates.maxBy(o => (us(o.event_timestamp), o.event_id))
          state.update(latest)
          latest
      }
  }

  /** Output mode for [[latestPerKeyStateful]] sinks: state emits one updated
    * row per key per batch. */
  val LatestOutputMode: OutputMode = OutputMode.Update()

  /** Change-data variant via flatMapGroupsWithState: emits a row ONLY when
    * a batch actually advances a key's latest observation — the delta
    * stream a downstream cache/index consumes. (mapGroupsWithState must
    * emit one row per key per batch; flatMap can emit zero.) */
  def latestChanges(stream: Dataset[ObsState]): Dataset[ObsState] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.location)
      .flatMapGroupsWithState[ObsState, ObsState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ObsState], state: GroupState[ObsState]) =>
          // same µs-ordering contract as latestPerKeyStateful
          def us(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          val incoming = rows.maxBy(o => (us(o.event_timestamp), o.event_id))
          val prev = state.getOption
          val newer = prev.forall { p =>
            import scala.math.Ordering.Implicits._
            (us(incoming.event_timestamp), incoming.event_id) >
              ((us(p.event_timestamp), p.event_id))
          }
          if (newer) {
            state.update(incoming)
            Iterator.single(incoming)
          } else Iterator.empty
      }
  }

  /** One funnel input event. */
  case class FunnelEvent(user_id: Long, event_type: String,
                         ts: java.sql.Timestamp)

  /** Per-user funnel state: the earliest-chain times (epoch µs) of the
    * steps reached so far — a strict prefix of the step list, ≤ |steps|
    * longs per user. */
  case class FunnelProgress(times: Seq[Long])

  /** One append-only step-completion record: `user_id` reached `step`
    * (1-based) at `t_us`, `lag_us` after its previous step (0 for step 1).
    * Aggregating hits per step (count, sum lag) reproduces the batch
    * [[graft.ops.EventAnalytics.funnel]] output rows. */
  case class FunnelHit(user_id: Long, step: Long, t_us: Long, lag_us: Long)

  /** Streaming strictly-ordered funnel — the INCREMENTAL form of
    * [[graft.ops.EventAnalytics.funnel]] (the batch operator re-scans all
    * events per refresh; the operational deployment wants per-user step
    * state that advances as events arrive — the [[latestChanges]]
    * precedent applied to the event-analytics wave).
    *
    * State per user is one `FunnelProgress` — the earliest-chain prefix
    * times, bounded by |steps| longs — never an event buffer. Each
    * micro-batch processes the user's funnel-relevant events in
    * (event-time, step) order: an event for the NEXT unreached step
    * strictly after the previous step's chain time advances the chain and
    * emits a [[FunnelHit]]; events for already-reached steps, for steps
    * further ahead (no skipping), or at/before the previous chain time are
    * ignored — exactly the batch semantics, where the in-time-order greedy
    * chain equals the batch operator's per-step min-over-qualifying fold.
    *
    * Equality contract (spec-pinned): as long as each user's events arrive
    * in event-time order ACROSS micro-batches (within a batch any order is
    * fine — the batch is sorted here), the emitted hits aggregate to the
    * batch funnel's exact (n_users, total_lag_us) per step. A LATE
    * cross-batch event that would have improved an already-emitted chain
    * is ignored, not retracted — append mode has no retractions; the
    * monotone-advance policy is the same one [[latestChanges]] documents.
    * Hits for equal-timestamp events process lower step first, which the
    * strict `>` then rejects — matching the batch operator's strict
    * ordering. */
  def funnelStream(stream: Dataset[FunnelEvent],
                   steps: Seq[String]): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = stream.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          var times = state.getOption.map(_.times.toVector).getOrElse(Vector.empty)
          val hits = Vector.newBuilder[FunnelHit]
          val evs = rows
            .flatMap(e => stepIdx.get(e.event_type).map(i => (micros(e.ts), i)))
            .toVector.sorted
          evs.foreach { case (t, i) =>
            if (i == times.length && (i == 0 || t > times.last)) {
              hits += FunnelHit(uid, i + 1L, t, if (i == 0) 0L else t - times.last)
              times = times :+ t
            }
          }
          val out = hits.result()
          if (out.nonEmpty) state.update(FunnelProgress(times))
          out.iterator
      }
  }

  /** Per-user retention state: the user's cohort day (epoch-day of first
    * activity) and the set of whole-period offsets already credited —
    * bounded by the corpus duration in periods, a few dozen longs at most
    * (a year of weekly buckets = 53). */
  case class RetentionState(cohort_dd: Long, offsets: Seq[Long])

  /** One append-only retention credit: `user_id` (cohort `cohort_dd`) was
    * active in period `offset_periods` for the first time. Counting hits
    * per (cohort_dd, offset_periods) reproduces the batch
    * [[graft.ops.EventAnalytics.retentionCohorts]] counts. */
  case class RetentionHit(user_id: Long, cohort_dd: Long, offset_periods: Long)

  /** Streaming cohort retention — the incremental form of
    * [[graft.ops.EventAnalytics.retentionCohorts]], completing the
    * event-analytics increment next to [[funnelStream]]: per-user state is
    * (cohort day, credited offsets), and each micro-batch emits one hit
    * per (user, period) seen for the first time.
    *
    * Same integer discipline as the batch operator (epoch-µs div —
    * no calendar arithmetic) and the same monotone-advance caveat as
    * [[funnelStream]]: the cohort anchors on the FIRST-SEEN activity day,
    * so a late cross-batch event EARLIER than the user's known first day
    * would re-anchor the cohort in the batch recompute but is credited
    * against the existing anchor here (append mode cannot retract already-
    * emitted offsets). With per-user event-time-ordered arrival the hit
    * counts equal the batch operator exactly — spec-pinned. */
  def retentionStream(stream: Dataset[FunnelEvent],
                      bucketDays: Int = 7): Dataset[RetentionHit] = {
    require(bucketDays > 0, "bucketDays must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val dayUs = 86400000000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[RetentionState]) =>
          val days = rows.map(e => micros(e.ts) / dayUs).toVector.sorted
          if (days.isEmpty) Iterator.empty
          else {
            val cohort = state.getOption.map(_.cohort_dd)
              .getOrElse(days.head)
            var seen = state.getOption.map(_.offsets.toSet).getOrElse(Set.empty)
            val hits = Vector.newBuilder[RetentionHit]
            days.foreach { dd =>
              // a pre-cohort late event credits offset 0, not a re-anchor
              val off = math.max(0L, (dd - cohort) / bucketDays)
              if (!seen(off)) {
                seen += off
                hits += RetentionHit(uid, cohort, off)
              }
            }
            state.update(RetentionState(cohort, seen.toSeq.sorted))
            hits.result().iterator
          }
      }
  }

  /** One dimension-bearing event for [[scd2Stream]]. */
  case class ScdEvent(user_id: Long, ts: java.sql.Timestamp,
                      event_id: Long, value: Double)

  /** Per-user open SCD2 row: the current value and when it took effect. */
  case class ScdState(value: Double, valid_from_us: Long)

  /** One CLOSED validity interval: `value` held on [valid_from_us,
    * valid_to_us). The open (current) interval lives in state and is never
    * emitted — append mode cannot retract it when it later closes. */
  case class ScdSpan(user_id: Long, valid_from_us: Long,
                     valid_to_us: Long, value: Double)

  /** Streaming SCD2 / CDC-merge — the incremental twin of
    * [[graft.ops.EventAnalytics.scd2]], completing the batch↔stream
    * symmetry for the third event-analytics operator (funnel and
    * retention have theirs above): per-user state is ONE open validity
    * row; each micro-batch processes the user's events in
    * (event-time, event_id) order, closes the open row when the metric
    * changes (null-safe: re-assertions of the current value are not
    * changes — the batch operator's exact rule) and emits the closed
    * interval append-only.
    *
    * Equality contract (spec-pinned): with per-user event-time-ordered
    * arrival across batches, the emitted spans equal the batch operator's
    * `is_current = false` rows exactly; the batch open row corresponds to
    * the state, observable on the NEXT change. Same monotone-advance
    * caveat as [[funnelStream]] for cross-batch late events. */
  def scd2Stream(stream: Dataset[ScdEvent]): Dataset[ScdSpan] = {
    val spark = stream.sparkSession
    import spark.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdSpan](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ScdEvent], state: GroupState[ScdState]) =>
          val evs = rows.toVector.sortBy(e => (micros(e.ts), e.event_id))
          var cur = state.getOption
          val out = Vector.newBuilder[ScdSpan]
          evs.foreach { e =>
            val t = micros(e.ts)
            cur match {
              case None => cur = Some(ScdState(e.value, t))
              // The batch scd2's change test is Spark SQL's <=>, whose
              // equality is "primitive == OR both NaN": NaN = NaN is TRUE
              // (a re-asserted NaN must not open a new span) AND -0.0 = 0.0
              // is TRUE (SQLOrderingUtil semantics — a 0.0 re-assertion
              // after -0.0 is not a change). java.lang.Double.compare gets
              // NaN right but splits ±0.0, so it is NOT equivalent here.
              case Some(s) if !(s.value == e.value ||
                  (s.value.isNaN && e.value.isNaN)) =>
                out += ScdSpan(uid, s.valid_from_us, t, s.value)
                cur = Some(ScdState(e.value, t))
              case _ => () // re-assertion of the current value: no change
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming EXACT dedup on the content fingerprint — the streaming twin
    * of [[graft.ops.Dedup.exact]], completing the incremental-dedup story
    * next to [[screenAgainst]] (the frozen-store screens): the first arrival
    * of each distinct content (case/whitespace-normalized md5,
    * [[graft.ops.TextStats.fingerprint]]) passes, replays and re-crawls of
    * the same content drop in-stream.
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) bounds
    * the state store: fingerprints older than the watermark delay are
    * evicted, so state scales with the distinct-content arrival RATE, not
    * corpus lifetime — at 100 TB/day an unbounded fingerprint set is a
    * state-store OOM. Content recurring farther apart than the delay is
    * the STATIC store's job ([[screenAgainst]]' signature-store pattern);
    * the two compose exactly like exact-first → near-dup in the batch
    * composition contract (Dedup's scaladoc). */
  def dedupExactStream(docsStream: DataFrame, watermarkDelay: String,
                       tsCol: String = "event_timestamp",
                       textCol: String = "text"): DataFrame =
    docsStream
      .withColumn("fp", graft.ops.TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming EXACT-STORE screen — [[graft.ops.Dedup.exactAgainst]]
    * applied to a stream, and the one member of the screen family that
    * needs NO foreachBatch: the screen is a stateless projection plus a
    * stream-static left equi-join on the 16-byte fingerprint, both
    * directly streamable, so the batch operator runs on the streaming
    * frame UNCHANGED (it is literally the same call). Because every
    * row's verdict depends only on that row and the static store, the
    * union of micro-batch outputs equals the batch operator over the
    * union of batches for ANY micro-batch split — stream ≡ batch by
    * construction, which is what lets the registry's
    * `stream_dedup_screen` hash-compare a materialized stream against
    * `dd_incremental_exact`'s batch oracle SQL verbatim (stream ≡ batch
    * driver-checked, not just spec-pinned).
    *
    * The store is pinned here (idempotent if the caller already cached
    * it) — the static side of a stream-static join re-executes its plan
    * every micro-batch, so an unpinned store would re-aggregate the full
    * corpus per batch, unbounding exactly the per-batch cost the store
    * exists to bound. At 100 TB the store is one fixed-width row per
    * DISTINCT content and the join stays fingerprint-bucketed. */
  def screenStreamExact(docsStream: DataFrame, store: DataFrame,
                        textCol: String = "text"): DataFrame =
    graft.ops.Dedup.exactAgainst(docsStream, pinned(store), textCol)

  /** Streaming screen against FROZEN stores: every micro-batch is scored
    * by `score`, the batch operator applied unchanged, and handed to
    * `onBatch` with its batchId. One screen serves the whole frozen-store
    * family: a minhash signature store
    * ([[graft.ops.Dedup.minhashLshPairsAgainst]]), SemDeDup centroids and
    * survivors ([[graft.ops.EmbeddingSim.semanticDedupAgainst]]), an
    * n-gram LM ([[graft.ops.TextStats.ngramPerplexityAgainst]]), a unigram
    * vocabulary ([[graft.ops.TextStats.unigramEncodeAgainst]]) and
    * perceptron weights ([[graft.ops.TextStats.qualityScoreAgainst]]).
    * Stream ≡ batch per micro-batch holds by construction. Emit to a sink,
    * a table or a quarantine topic in `onBatch`, as the deployment needs.
    *
    * Why foreachBatch and not a streaming join: these operators aggregate
    * per document or vector (signature bands, cell assignment, per-doc
    * sums), and a streaming aggregation keyed by doc_id would carry state
    * across batches (wrong: each doc arrives whole in one batch) and
    * force update mode. Inside foreachBatch the micro-batch is a plain
    * static frame — Spark's own pattern for batch-complete work on
    * streams.
    *
    * The `stores` are pinned HERE (idempotent if the caller already
    * cached them): an unpinned store would re-execute its whole lineage —
    * corpus shingling, training, the dominance join — on EVERY
    * micro-batch, unbounding exactly the per-batch cost a frozen store
    * exists to bound. `score` may name the stores directly: pinning
    * caches the same plans. */
  def screenAgainst(stream: DataFrame, stores: DataFrame*)(
      score: DataFrame => DataFrame,
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stores.foreach(pinned)
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(score(batch), batchId)
      }
  }

  /** `df` persisted MEMORY_AND_DISK unless it is already cached: the
    * static side of a streaming screen or fold must not re-run its
    * lineage per micro-batch. */
  private def pinned(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  /** Streaming STORE MAINTENANCE for the KMV sketch family — the
    * production loop [[graft.ops.Sketches.kmvMergeAgainst]] is built for,
    * run continuously: each arriving micro-batch is sketched
    * ([[graft.ops.Sketches.kmvSketch]] — one batch-shaped (group, hash)
    * DISTINCT, the family's only corpus-shaped work) and folded into a
    * VERSIONED parquet store under `storeDir` (v0, v1, ... — each version
    * = bottom-k(previous ∪ batch), sketch-sized rows). The stream itself
    * holds NO Spark state: the store IS the state, queryable mid-stream
    * by any reader via [[sketchStoreRead]] + [[graft.ops.Sketches.kmvEstimates]]
    * and durable across stream restarts (a warm start resumes from the
    * latest version — the `Against` deployment shape).
    *
    * Idempotent under micro-batch retry BY THE SKETCH ALGEBRA, not by
    * sink transactionality: a replayed batch re-merges rows the store
    * already absorbed, and bottom-k(store ∪ batch ∪ batch) =
    * bottom-k(store ∪ batch) (the DISTINCT inside kmvSketch + the
    * array_union merge are set-semantics). A version becomes "latest"
    * only once its `_SUCCESS` marker lands (the committer writes it
    * last), so a crash mid-write or a reader racing the writer never
    * sees a partial version; a production deployment could still swap
    * in a transactional table format, but no arithmetic changes.
    *
    * Per-batch cost: batch-scan + batch-shaped DISTINCT + a sketch-sized
    * full-outer merge against ≤ |groups|·k longs — at 100 TB/day this is
    * the shape that keeps "distinct users ever" one cheap nightly (or
    * per-minute) fold instead of a corpus re-scan. */
  def kmvUpdateStream(stream: DataFrame, groupCol: String, keyCol: String,
                      k: Int, storeDir: String, compactKeepLast: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sketchUpdateStream(stream, storeDir,
      b => graft.ops.Sketches.kmvSketch(b, groupCol, keyCol, k),
      (store, b) =>
        graft.ops.Sketches.kmvMergeSketches(store, b, groupCol, k),
      compactKeepLast = compactKeepLast)

  /** The CMS configuration of [[sketchUpdateStream]] — continuous
    * frequency-store maintenance: each micro-batch's cell counts
    * ([[graft.ops.Sketches.cmsSketch]]) summed into the stored cells
    * ([[graft.ops.Sketches.cmsMerge]]). Because the CMS merge is an
    * ELEMENTWISE SUM, the folded store equals the whole-corpus sketch
    * EXACTLY for any micro-batch split — but unlike the KMV fold it is
    * NOT retry-absorbing (counts double where sets dedupe), so the
    * versioned store is the commit unit: a retried batch re-merges
    * against the same PRIOR version and overwrites its own output
    * version — last writer wins, counts never double. Corollary: a CMS
    * warm RESTART must resume the stream's own batchId sequence (a
    * persistent checkpointLocation — the production shape); a cold
    * replay over an existing store would restart at batchId 0 and
    * orphan it, by design (counts must not double-fold). */
  def cmsUpdateStream(stream: DataFrame, groupCol: String, keyCol: String,
                      depth: Int, width: Int, storeDir: String,
                      compactKeepLast: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sketchUpdateStream(stream, storeDir,
      b => graft.ops.Sketches.cmsSketch(b, groupCol, keyCol, depth, width),
      (store, b) => graft.ops.Sketches.cmsMerge(store, b, groupCol),
      versionByBatchId = true, compactKeepLast = compactKeepLast)

  /** Streaming STORE MAINTENANCE for the stored ANN index — the one
    * deployed artifact that was build-once until r19 (verdict Next #1):
    * a 100 TB corpus appends vectors continuously, so the
    * [[graft.ops.EmbeddingSim.ivfIndex]] relation
    * (vec_id, cid, q, n2 — everything [[graft.ops.EmbeddingSim.ivfSearchAgainst]]
    * probes, nothing else) must grow with it. Each arriving micro-batch
    * is assigned against PINNED centroids (the batch-shaped work:
    * broadcast-K `min_by`, one shuffled row per vector) and appended to
    * the versioned store via the same [[sketchUpdateStream]] fold the
    * sketch pillars ride.
    *
    * Fold ≡ whole, EXACTLY: under FIXED centroids each vector's cell is
    * a pure function of its own row, so the union of per-batch index
    * relations equals the whole-corpus [[graft.ops.EmbeddingSim.ivfIndex]]
    * for ANY micro-batch split — the KMV argument, with set identity
    * instead of sketch identity (vec_ids are unique by contract). That
    * is what lets the registry hash-check the folded store against the
    * whole-corpus oracle. Centroids stay fixed BY DESIGN between index
    * rebuilds (the `*Against` frozen-geometry convention: search and
    * index must share one cell geometry); re-training centroids is a
    * REBUILD, not a fold.
    *
    * Union is append, not set-absorbing — a replayed batch would
    * duplicate rows — so the commit unit carries retries exactly like
    * the CMS fold: `versionByBatchId = true` (a retried batch re-reads
    * the same prior version and overwrites its own output; warm restart
    * resumes the stream's own batchId sequence via a persistent
    * checkpoint; a cold replay over a committed store throws). The
    * centroid relation is pinned here (idempotent if already cached):
    * an unpinned one would re-execute its training lineage every batch.
    *
    * Per-batch cost: batch·K integer distance evals + one batch-shaped
    * aggregate + a store append — the index grows by exactly the batch;
    * pair with `compactKeepLast` (≥ 2, enforced) so the store holds a
    * bounded number of full copies. */
  def ivfIndexUpdateStream(vecStream: DataFrame, centroids: DataFrame,
                           storeDir: String, compactKeepLast: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val cents = pinned(centroids)
    sketchUpdateStream(vecStream, storeDir,
      b => graft.ops.EmbeddingSim.ivfIndex(b, cents),
      (store, b) => store.unionByName(b),
      versionByBatchId = true, compactKeepLast = compactKeepLast)
  }

  /** Streaming maintenance for the stored HIERARCHICAL ANN index —
    * [[ivfIndexUpdateStream]] at the n·2√K assignment geometry, deleting
    * the last flat-assignment scale term from the maintenance loop (r19
    * verdict Next #1): each arriving micro-batch is assigned coarse-
    * then-fine against the PINNED two-level geometry
    * ([[graft.ops.EmbeddingSim.ivfHierIndex]]: two broadcast `min_by`
    * aggregates, batch·(coarseK + fineK/coarseK) distance evals instead
    * of batch·fineK) and appended to the same versioned store protocol.
    * When K must grow with the corpus (SemDeDup-style k ∝ n), the flat
    * fold's per-batch term is batch·K — the measured 581 s linear-K
    * cliff — while this fold's is batch·2√K; nothing else changes:
    * store shape, commit discipline, retention and the search side
    * ([[graft.ops.EmbeddingSim.ivfHierSearchAgainst]]) are all
    * geometry-agnostic.
    *
    * Fold ≡ whole EXACTLY for any micro-batch split, by the same
    * argument as the flat loop: under FIXED (coarse, fineT) each
    * vector's coarse group — and therefore its fine cell — is a pure
    * function of its own row. Both geometry levels stay fixed BY DESIGN
    * between rebuilds (hier assignment is approximate at group
    * boundaries, so a re-trained geometry is a REBUILD, not a fold —
    * the `*Against` convention, doubly so here). Union is append, so
    * the commit unit carries retries exactly like the flat fold:
    * `versionByBatchId = true`, warm restart via the stream's own
    * checkpoint, cold replay over a committed store throws. Both
    * geometry relations are pinned (idempotent if already cached):
    * unpinned lineage would re-run centroid derivation every batch. */
  def ivfHierIndexUpdateStream(vecStream: DataFrame, coarse: DataFrame,
                               fineT: DataFrame, storeDir: String,
                               compactKeepLast: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val c = pinned(coarse)
    val f = pinned(fineT)
    sketchUpdateStream(vecStream, storeDir,
      b => graft.ops.EmbeddingSim.ivfHierIndex(b, c, f),
      (store, b) => store.unionByName(b),
      versionByBatchId = true, compactKeepLast = compactKeepLast)
  }

  /** UPSERT/DELETE maintenance for the stored ANN index — what a real
    * pipeline's index loop must also handle beyond [[ivfIndexUpdateStream]]'s
    * appends: dedup retracts vectors, recrawls REPLACE a document's
    * embedding. The stream carries (vec_id, embedding, op) rows with
    * `op ∈ {upsert, delete}`; per micro-batch the upserts are assigned
    * against the PINNED centroids (the only batch-shaped work) and the
    * batch summary folds into the store as
    *
    *   store' = (store ANTI-JOIN batch ids) ∪ assigned upserts
    *
    * — an upsert replaces its id's row, a delete just removes it.
    * CONTRACT: one op per vec_id per micro-batch (spec-pinned; two ops
    * for one id in one batch have no defined order under set semantics).
    *
    * Retry-absorbing BY ALGEBRA, like the KMV fold and unlike the
    * append fold: re-applying a batch anti-joins out exactly the rows it
    * added and re-adds identical ones (deletes re-remove nothing), so
    * merge(merge(S, B), B) = merge(S, B) and the default monotonic
    * versioning is safe — a warm start needs no checkpoint. Under the
    * per-batch one-op contract the folded store equals the index of the
    * LAST-WRITE state of every id, which is what the registry row
    * hash-checks against a whole-corpus replay of the final state. */
  def ivfIndexUpsertStream(vecStream: DataFrame, centroids: DataFrame,
                           storeDir: String, compactKeepLast: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val cents = pinned(centroids)
    def summarize(b: DataFrame): DataFrame =
      graft.ops.EmbeddingSim.ivfIndex(
          b.filter(col("op") === "upsert"), cents)
        .withColumn("__op", lit("u"))
        .unionByName(b.filter(col("op") === "delete")
          .select(col("vec_id"),
            lit(null).cast("bigint").as("cid"),
            lit(null).cast("array<bigint>").as("q"),
            lit(null).cast("bigint").as("n2"),
            lit("d").as("__op")))
    def fold(store: DataFrame, bsk: DataFrame): DataFrame =
      store.join(bsk.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .unionByName(bsk.filter(col("__op") === "u").drop("__op"))
    sketchUpdateStream(vecStream, storeDir, summarize, fold,
      compactKeepLast = compactKeepLast,
      firstVersionFn = bsk => bsk.filter(col("__op") === "u").drop("__op"))
  }

  /** UPSERT/DELETE maintenance for the EXACT-DEDUP fingerprint store —
    * [[ivfIndexUpsertStream]]'s anti-join∪upserts algebra applied to the
    * other corpus-sized deployed artifact (r19 verdict Next #2): real
    * pipelines retract (right-to-be-forgotten deletes) and recrawls
    * REPLACE a document's content, which must invalidate its stored
    * fingerprint. The maintained relation is (doc_id, fp) — one
    * fixed-width row per LIVE document; the (fp, canonical_id, n_copies)
    * view [[graft.ops.Dedup.exact]] emits (and
    * [[graft.ops.Dedup.exactAgainst]] probes) is a one-aggregate
    * derivation over it. Why per-doc rather than per-content: a delete
    * of the canonical holder of a duplicated fingerprint must re-point
    * the group to its next-lowest survivor, which a per-content store
    * cannot do without multiplicity state — the per-doc relation makes
    * the fold a pure id-keyed set operation and the canonical choice a
    * read-time `min`.
    *
    * Stream rows carry (doc_id, `textCol`, op ∈ {upsert, delete}); per
    * micro-batch the upserts are fingerprinted (the only batch-shaped
    * work — one md5 per row, no shuffle) and the summary folds as
    *
    *   store' = (store ANTI-JOIN batch ids) ∪ fingerprinted upserts
    *
    * CONTRACT: one op per doc_id per micro-batch (two ops for one id in
    * one batch have no defined order under set semantics). Retry-
    * absorbing BY ALGEBRA exactly as the index upsert fold — re-applying
    * a batch anti-joins out what it added and re-adds identical rows —
    * so monotonic versions, no checkpoint needed; the folded store
    * equals the fingerprint relation of the LAST-WRITE state. */
  def fingerprintUpsertStream(docsStream: DataFrame, storeDir: String,
                              compactKeepLast: Int = 0,
                              textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    def summarize(b: DataFrame): DataFrame =
      b.filter(col("op") === "upsert")
        .select(col("doc_id"),
          graft.ops.TextStats.fingerprint(col(textCol)).as("fp"),
          lit("u").as("__op"))
        .unionByName(b.filter(col("op") === "delete")
          .select(col("doc_id"), lit(null).cast("string").as("fp"),
            lit("d").as("__op")))
    def fold(store: DataFrame, bsk: DataFrame): DataFrame =
      store.join(bsk.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(bsk.filter(col("__op") === "u").drop("__op"))
    sketchUpdateStream(docsStream, storeDir, summarize, fold,
      compactKeepLast = compactKeepLast,
      firstVersionFn = bsk => bsk.filter(col("__op") === "u").drop("__op"))
  }

  /** The generic versioned-store streaming fold both sketch families
    * configure (and any future mergeable summary can): per micro-batch,
    * `sketchFn(batch)` builds the batch summary (the only batch-shaped
    * work) and `mergeFn(store, batchSketch)` folds it into the latest
    * parquet version under `storeDir`; the merged result becomes the
    * next version. The stream holds NO Spark state — the store is the
    * state, queryable mid-stream ([[sketchStoreRead]]) and durable
    * across restarts (a warm start resumes from the latest version).
    *
    * Retry semantics are the MERGE's: a set-semantics merge (KMV
    * bottom-k) absorbs a replayed batch at any version numbering, so
    * the default monotonic next-version is safe; a counting merge (CMS)
    * needs the version number to BE the batchId
    * (`versionByBatchId = true`) so a retried batch reads the same
    * prior version it read the first time and overwrites its own
    * output — idempotence by commit unit instead of by algebra.
    *
    * RETENTION (r18 verdict Next #2): each version is a FULL copy —
    * without retention a 5-minute trigger writes 288 copies/day forever.
    * `compactKeepLast > 0` calls [[sketchStoreCompact]] after every
    * committed fold, retaining the newest `compactKeepLast` committed
    * versions. The floor is 1 for set-semantics folds but 2 when
    * `versionByBatchId` (enforced): a retried latest batch re-reads the
    * PRIOR version, so that version must survive compaction until the
    * next batch commits — keepLast 1 there would hand a retry an empty
    * prior and silently truncate the store to one batch's counts. */
  def sketchUpdateStream(stream: DataFrame, storeDir: String,
                         sketchFn: DataFrame => DataFrame,
                         mergeFn: (DataFrame, DataFrame) => DataFrame,
                         versionByBatchId: Boolean = false,
                         compactKeepLast: Int = 0,
                         firstVersionFn: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactKeepLast == 0 || compactKeepLast >= (if (versionByBatchId) 2 else 1),
      "compactKeepLast must keep the retry-prior version: >= 2 for " +
        "versionByBatchId folds, >= 1 otherwise (0 disables compaction)")
    // Fail at STREAM START, not at first read (ADVICE r19 #7): the store
    // walker recognizes committed versions by the _SUCCESS marker, which
    // exists only while marksuccessfuljobs is true (the Hadoop default).
    // A deployment that disabled it would fold versions the walker can
    // never see — every read would throw "no committed sketch store" on
    // a healthy store. Surface the misconfiguration before any fold runs.
    require(stream.sparkSession.sessionState.newHadoopConf().getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "sketchUpdateStream requires mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs=true: the versioned-store walker gates on the " +
        "_SUCCESS commit marker (see sketchStoreVersions); re-enable it " +
        "or swap the store onto a transactional table format")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val versions = sketchStoreVersions(s, storeDir)
        // Cold-replay misuse detection (a counting merge must not
        // double-fold): a stream restarted WITHOUT its checkpoint replays
        // from batchId 0 while the store already holds higher committed
        // versions — silently writing v0 under a stale latest would serve
        // stale reads forever. A legitimate RETRY of the latest batch
        // (versions ≤ batchId) passes: it re-reads the same prior version
        // and overwrites its own output.
        if (versionByBatchId && versions.exists(_ > batchId))
          throw new IllegalStateException(
            s"cold replay over a committed store: batchId $batchId but " +
              s"version v${versions.max} exists under $storeDir — counts " +
              "would double-fold; resume from the stream's checkpoint or " +
              "clear the store first")
        val batchSk = sketchFn(batch)
        val prev =
          if (versionByBatchId) versions.filter(_ < batchId).sorted.lastOption
          else versions.sorted.lastOption
        // firstVersionFn: a fold whose batch summary carries MERGE-ONLY
        // rows (e.g. delete tombstones) reduces it to store shape when
        // there is no prior version to merge against
        val merged = prev match {
          case Some(v) => mergeFn(s.read.parquet(s"$storeDir/v$v"), batchSk)
          case None => firstVersionFn(batchSk)
        }
        val next =
          if (versionByBatchId) batchId
          else prev.map(_ + 1).getOrElse(0L)
        merged.write.mode("overwrite").parquet(s"$storeDir/v$next")
        if (compactKeepLast > 0)
          sketchStoreCompact(s, storeDir, compactKeepLast): Unit
      }
  }

  /** Delete store versions older than the newest `keepLast` COMMITTED
    * ones — the retention half of the versioned-store protocol (r18
    * verdict Next #2: the fold writes a full copy per version and, without
    * this, never deletes). Returns the deleted version numbers.
    *
    * Safety under the existing commit protocol, no new coordination:
    *  - READERS pin a version first ([[sketchStoreRead]] resolves the
    *    LATEST committed version, which is always retained); a reader is
    *    only exposed if it dawdles across `keepLast` further fold commits
    *    after resolving — size keepLast to the slowest reader.
    *  - WRITERS (the fold) only ever read the latest/prior version, both
    *    retained by the keepLast floor [[sketchUpdateStream]] enforces.
    *  - CRASHED compaction: the `_SUCCESS` marker is deleted FIRST, so a
    *    half-deleted version is marker-less — invisible to the walker
    *    (never becomes "latest") and swept by the next compaction pass,
    *    which removes sub-cutoff directories with or without markers
    *    (that also reaps crashed mid-WRITE versions below the cutoff).
    *  - The cutoff is computed over committed versions only, so an
    *    in-flight write (marker-less, above the cutoff) is never touched. */
  def sketchStoreCompact(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val committed = sketchStoreVersions(spark, storeDir).sorted
    // cutoff = oldest RETAINED committed version. Everything below it goes,
    // committed or not — that sweeps crashed-compaction residue (markerless
    // dirs) even when no committed version is due for deletion. An empty
    // store compacts to nothing (never touch a possibly-in-flight v0).
    committed.takeRight(keepLast).headOption match {
      case None => Seq.empty
      case Some(cutoff) =>
        val path = new org.apache.hadoop.fs.Path(storeDir)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(path).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
          .map(st => (st.getPath.getName.drop(1).toLong, st.getPath))
          .filter(_._1 < cutoff)
          .sortBy(_._1)
          .map { case (v, p) =>
            fs.delete(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), false)
            fs.delete(p, true)
            v
          }
    }
  }

  /** The current store relation under `storeDir` (its latest version) —
    * sketch-shaped per its family, ready for
    * [[graft.ops.Sketches.kmvEstimates]] / [[graft.ops.Sketches.cmsEstimate]]
    * / further merges. Empty store (no completed batch yet) is an error:
    * readers gate on stream progress, not on this accessor. */
  def sketchStoreRead(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String): DataFrame = {
    val v = sketchStoreLatest(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed sketch store under $storeDir"))
    spark.read.parquet(s"$storeDir/v$v")
  }

  private def sketchStoreLatest(spark: org.apache.spark.sql.SparkSession,
                                storeDir: String): Option[Long] =
    sketchStoreVersions(spark, storeDir).sorted.lastOption

  /** Committed versions under `storeDir`, via the Hadoop FileSystem API —
    * the store is the family's DEPLOYMENT artifact, so the walk must work
    * wherever the parquet writes land (HDFS, S3A, `file:` URIs, bare
    * local paths), not just `java.io.File`'s local view (r17 verdict #1).
    * A version counts as committed only if it carries the `_SUCCESS`
    * marker Spark's file committer writes LAST: a crash mid-write (or a
    * reader racing a writer) leaves a marker-less directory that must not
    * become "latest" — crash-safe listing by commit marker, no rename
    * protocol needed.
    *
    * DEPLOYMENT DEPENDENCY (ADVICE r18): the marker exists only while
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` is true (the
    * Hadoop default). A deployment that disables it would hide every
    * committed version from this walk and [[sketchStoreRead]] would throw
    * "no committed sketch store" on a healthy store — keep the setting
    * on wherever the store lands, or swap the marker gate for a
    * transactional table format's own commit log. */
  def sketchStoreVersions(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    // conf from the CALLER's session, not the SparkSession.active
    // thread-local (review r18): a caller thread with no active session
    // would throw, and under multiple sessions the walk could pick up
    // the wrong fs.* configuration for an S3A/HDFS store
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong)
  }
}
