package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FastMd5.fastMd5
import graft.functions.HashedTf.hashedTf
import graft.functions.LongArrayDot

/** Text-analysis operators for a training-data pipeline: tokenization, token
  * statistics, quality scoring, language-ID scoring, and content
  * fingerprinting — all as stock Catalyst expressions (no UDFs), so the whole
  * path stays inside whole-stage codegen and scales linearly with no
  * shuffles beyond the caller's own aggregations.
  *
  * The reference has no text pipeline (its payloads are numeric weather
  * observations); these are the beyond-reference operators a 100 TB document
  * pipeline needs (see the builder contract + SURVEY.md §7.2 step 8).
  */
object TextStats {

  /** Whitespace tokenization. The corpus is single-spaced; for arbitrary
    * text pass a normalized column (see [[normalize]]). */
  def tokens(text: Column): Column = split(text, " ")

  /** Canonical whitespace/case normalization used before fingerprinting. */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "\\s+", " ")

  /** BPE-ish pre-tokenization (the GPT-2-style split: leading-space word,
    * number, punctuation-run, or whitespace-run groups) — the token COUNT
    * a data pipeline budgets by, without needing a merges table. The
    * pattern uses only Unicode category classes shared by Java regex and
    * RE2, so oracles reproduce it. */
  val BpePattern: String = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Distributed BPE merge training (Sennrich et al. 2016): `numMerges`
    * rounds of count-adjacent-symbol-pairs → merge the most frequent pair
    * corpus-wide. Returns one relation carrying BOTH training artifacts:
    * rows with kind='merge' are the learned merge table (merge_rank,
    * l_sym, r_sym, token = the merged symbol, freq = the winning pair
    * count), rows with kind='token' are the re-tokenized corpus symbol
    * counts after all merges.
    *
    * Representation is the whole trick: a word's symbol sequence is a
    * single string — symbols joined by a DOUBLE space, one space at each
    * end — so applying a merge is ONE `replace(str, " l  r ", " lr ")`
    * call. String replace is left-to-right and non-overlapping in both
    * Spark (UTF8String) and DuckDB, which is EXACTLY BPE's merge-pass
    * semantics ("aaa" + merge(a,a) → [aa, a]); the double separator
    * donates one boundary space to each of two adjacent matches, so
    * consecutive pairs ("a b a b") both merge in one pass, while the
    * single-space-bounded search pattern can never match across a
    * multi-character symbol's interior. The oracle unrolls the identical
    * rounds with the same replace.
    *
    * Scale shape (100 TB): the corpus-sized pass happens ONCE — the
    * distinct-word frequency aggregation (classic BPE trains on the word
    * frequency table; vocabulary ≪ corpus). Each round then runs on the
    * O(vocab) word relation: one pair-explode + map-side-combining count
    * aggregation whose argmax rides the same job as an observed
    * min(struct) metric (never a full sort), and one literal-substituted
    * projection applying the merge — only the O(1) winning pair crosses
    * to the driver, nothing corpus-sized. The
    * loop runs under the same non-adaptive measured-size regime as
    * [[graft.ops.Dedup.connectedComponents]] (AQE's per-exchange jobs are
    * pure overhead at O(vocab) scale; partitions sized from the
    * materialized word relation), with [[Checkpoints.materialized]]
    * cutting plan growth per round. */
  def bpeTrain(docs: DataFrame, numMerges: Int = 8,
               textCol: String = "text"): DataFrame = {
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    val words0 = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "), concat_ws("  ", chars), lit(" ")).as("str"),
        col("cnt"))
    val (words, merges) = bpeLoop(words0, numMerges)
    val tokenCounts = words
      .select(explode(split(trim(col("str")), "  ")).as("token"), col("cnt"))
      .groupBy(col("token")).agg(sum(col("cnt")).as("freq"))
      .select(lit("token").as("kind"), lit(0L).as("merge_rank"),
        lit("").as("l_sym"), lit("").as("r_sym"), col("token"), col("freq"))
    val mergeTable = merges match {
      case Seq() => tokenCounts.filter(lit(false))
      case ms => ms.reduce(_ unionAll _)
        .select(lit("merge").as("kind"), col("merge_rank"),
          col("l").as("l_sym"), col("r").as("r_sym"),
          concat(col("l"), col("r")).as("token"), col("c").as("freq"))
    }
    mergeTable.unionAll(tokenCounts)
  }

  /** The merge-training fixpoint shared by [[bpeTrain]] and [[bpeEncode]]:
    * `numMerges` rounds of pair-count → argmax → apply on a word relation
    * whose schema is (str, cnt, extra…). Pair counting reads only
    * (str, cnt) — Catalyst prunes anything else — while the apply step
    * carries every non-`str` column through, so callers can thread an
    * identity column (the original word) alongside the evolving symbol
    * string. Everything loop-side materializes eagerly
    * ([[Checkpoints.materialized]] / localCheckpoint), so the
    * non-adaptive/sized-partition regime is confined to the loop and the
    * caller's downstream aggregations run under the session's normal conf. */
  private def bpeLoop(words0: DataFrame,
                      numMerges: Int): (DataFrame, Seq[DataFrame]) = {
    val sess = words0.sparkSession
    val carryNames = words0.columns.filterNot(_ == "str").toSeq
    var words = words0.localCheckpoint()
    graft.Session.loopRegime(sess, words.rdd.getNumPartitions) {
      val merges = scala.collection.mutable.Buffer.empty[DataFrame]
      var rank = 1
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        val sy = split(trim(col("str")), "  ")
        val pairs = words
          .select(sy.as("sy"), col("cnt"))
          .filter(size(col("sy")) >= 2)
          .select(col("cnt"), explode(transform(
            sequence(lit(0), size(col("sy")) - 2),
            i => struct(element_at(col("sy"), i + 1).as("l"),
              element_at(col("sy"), i + 2).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
        // Argmax via an observed metric riding the pair-count job itself
        // (r20, the connectedComponents convergence-probe convention):
        // min(struct(-c, l, r)) over the aggregated pair rows IS
        // `ORDER BY c DESC, l ASC, r ASC LIMIT 1` (long negation is safe —
        // c is a count sum ≥ 1), and the row count doubles as the
        // exhaustion guard. The former shape spent ~4 jobs per round
        // (TakeOrdered job, argmax checkpoint, head() guard, 1-row
        // broadcast build inside the apply job); this one spends 2 — the
        // observed pair aggregation and the apply checkpoint — and the
        // winning pair crosses to the driver as ONE observed struct, never
        // a corpus-derived collect. The apply step embeds the winner as
        // LITERALS, so the per-round plan is a pure projection (no join).
        val obs = org.apache.spark.sql.Observation(
          s"bpe-$rank-${System.nanoTime()}")
        pairs.observe(obs,
            min(struct((-col("c")).as("nc"), col("l"), col("r"))).as("m"),
            count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        if (obs.get("n").asInstanceOf[Long] == 0L) exhausted = true
        else {
          val m = obs.get("m").asInstanceOf[org.apache.spark.sql.Row]
          val (lSym, rSym, c) =
            (m.getString(1), m.getString(2), -m.getLong(0))
          import sess.implicits._
          merges += Seq((lSym, rSym, c)).toDF("l", "r", "c")
            .withColumn("merge_rank", lit(rank.toLong))
          words = Checkpoints.materialized(
            words.select(
              replace(col("str"),
                concat(lit(" "), lit(lSym), lit("  "), lit(rSym), lit(" ")),
                concat(lit(" "), lit(lSym), lit(rSym), lit(" "))).as("str") +:
                carryNames.map(col): _*))
        }
        rank += 1
      }
      (words, merges.toSeq)
    }
  }

  /** BPE tokenization of the corpus with merges learned from the corpus
    * itself (train-then-encode, the deployment shape of [[bpeTrain]]):
    * per document, the token count after `numMerges` learned merges, the
    * non-space character count, and the chars-per-token compression ratio —
    * the number a training pipeline budgets sequence packing by.
    *
    * Scale shape (100 TB): the corpus is touched exactly twice, both times
    * embarrassingly parallel — once to build the per-(doc, word) count
    * relation (one shuffle on (doc, word); the corpus-wide word-frequency
    * table the trainer needs is a second, map-side-combinable aggregation
    * OF that relation, so the heavy explode happens once), and once more
    * as the (doc, word) side of the final equi-join against the O(vocab)
    * encoded-word relation. The merge fixpoint itself runs entirely on the
    * vocabulary, exactly as in [[bpeTrain]]. Per-word token counts join
    * back on the word key — a plain shuffled equi-join that partitions by
    * word, never a broadcast of anything corpus-sized. */
  def bpeEncode(docs: DataFrame, numMerges: Int = 8, textCol: String = "text",
                docIdCol: String = "doc_id"): DataFrame = {
    val docWords = docs
      .select(col(docIdCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(docIdCol), col("w")).agg(count(lit(1)).as("k"))
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    val words0 = docWords
      .groupBy(col("w")).agg(sum(col("k")).as("cnt"))
      .select(col("w"),
        concat(lit(" "), concat_ws("  ", chars), lit(" ")).as("str"),
        col("cnt"))
    val (encoded, _) = bpeLoop(words0, numMerges)
    val enc = encoded.select(col("w"),
      size(split(trim(col("str")), "  ")).cast("long").as("wtoks"))
    docWords.join(enc, "w")
      .groupBy(col(docIdCol))
      .agg(sum(col("k") * col("wtoks")).as("n_tokens"),
        sum(col("k") * length(col("w")).cast("long")).as("n_chars"))
      .select(col(docIdCol), col("n_tokens"), col("n_chars"),
        round(col("n_chars") * lit(1.0) / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** The frozen BPE artifact — the ordered merge list (merge_rank, l_sym,
    * r_sym) alone, mirroring [[unigramVocabModel]] for the merge family:
    * train once on a curated seed, apply everywhere
    * ([[bpeEncodeAgainst]]). O(numMerges) rows. */
  def bpeMergesModel(docs: DataFrame, numMerges: Int = 8,
                     textCol: String = "text"): DataFrame =
    bpeTrain(docs, numMerges, textCol)
      .filter(col("kind") === "merge")
      .select(col("merge_rank"), col("l_sym"), col("r_sym"))

  /** Encode a batch under a FROZEN [[bpeMergesModel]] merge list — the
    * BPE deployment shape: merges apply in rank order to the distinct
    * batch words, exactly as the trainer's own apply step does, so
    * `bpeEncodeAgainst(seed, bpeMergesModel(seed))` reproduces
    * `bpeEncode(seed)` (spec-pinned). Unlike the unigram family there is
    * no fallback case: every word seeds as single characters and merges
    * simply fail to fire on unseen material.
    *
    * The model pivots to ONE broadcast row (rank-conditional aggregates)
    * and all ranks apply in a single projection — a rank-ordered fold of
    * `coalesce(replace(…), str)`, where a missing rank (training exhausted
    * early) passes the string through unchanged. Scale shape: the batch
    * pays one (doc, word) count shuffle and the final word-key equi-join;
    * the per-word merge application is one codegen'd expression over the
    * DISTINCT batch words, and the model is never re-derived. */
  def bpeEncodeAgainst(batch: DataFrame, merges: DataFrame,
                       numMerges: Int = 8, textCol: String = "text",
                       docIdCol: String = "doc_id"): DataFrame = {
    val docWords = batch
      .select(col(docIdCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(docIdCol), col("w")).agg(count(lit(1)).as("k"))
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    // The model is O(numMerges) rows — pivot it into ONE row of
    // (__l1, __r1 … __ln, __rn) via rank-conditional aggregates, and apply
    // every rank in a single projection: a left-to-right fold of the same
    // `coalesce(replace(str, " l  r ", " lr "), str)` the per-rank loop
    // ran, in the same rank order (replace of a null pattern is null, so a
    // missing rank — training exhausted early — keeps the string unchanged
    // exactly as the old left-join + coalesce did). r20 optimization: the
    // former loop paid numMerges × (1-row broadcast build — each
    // re-executing the model lineage — + a checkpoint job); this shape is
    // one broadcast of one pivoted row and zero loop checkpoints, and the
    // batch-side work is one codegen'd projection. Same jobs story at
    // 100 TB: the batch pays one distinct + one final equi-join either way.
    val mcols = (1 to numMerges).flatMap { r =>
      Seq(min(when(col("merge_rank") === r.toLong, col("l_sym"))).as(s"__l$r"),
        min(when(col("merge_rank") === r.toLong, col("r_sym"))).as(s"__r$r"))
    }
    val model1 = merges.agg(mcols.head, mcols.tail: _*)
    val applied = (1 to numMerges).foldLeft(col("str")) { (s, r) =>
      coalesce(
        replace(s,
          concat(lit(" "), col(s"__l$r"), lit("  "), col(s"__r$r"), lit(" ")),
          concat(lit(" "), col(s"__l$r"), col(s"__r$r"), lit(" "))),
        s)
    }
    val enc = docWords.select(col("w")).distinct()
      .select(col("w"),
        concat(lit(" "), concat_ws("  ", chars), lit(" ")).as("str"))
      .crossJoin(broadcast(model1))
      .select(col("w"),
        size(split(trim(applied), "  ")).cast("long").as("wtoks"))
    docWords.join(enc, "w")
      .groupBy(col(docIdCol))
      .agg(sum(col("k") * col("wtoks")).as("n_tokens"),
        sum(col("k") * length(col("w")).cast("long")).as("n_chars"))
      .select(col(docIdCol), col("n_tokens"), col("n_chars"),
        round(col("n_chars") * lit(1.0) / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer vocabulary trainer —
    * Kudo 2018's seed-then-prune loop in its deterministic hard-EM form:
    *
    *  1. SEED: every substring of the (frequency-weighted) word table up
    *     to `maxPieceLen` chars, counted by occurrence position; all
    *     single characters are kept unconditionally (they guarantee every
    *     word stays segmentable), longer pieces keep the top `seedMax` by
    *     (count desc, piece asc) among those with count ≥ `minSeedFreq`.
    *  2. EM-PRUNE rounds (one per `keepSchedule` entry): the E-step
    *     Viterbi-segments every word with the current vocabulary — best
    *     segmentation = fewest pieces, ties broken by larger piece-count
    *     sum then lexicographically smaller piece sequence (min #pieces IS
    *     the max-likelihood rule under a uniform piece prior; the count
    *     tie-break injects the frequency signal — the standard hard-EM /
    *     Viterbi-EM approximation of SentencePiece's lattice EM, chosen
    *     here because it is exactly reproducible in integer arithmetic).
    *     The M-step recounts each piece's usage over the best paths and
    *     PRUNES: all single chars survive; longer pieces keep the top
    *     `keepSchedule(r)` by (usage desc, piece asc).
    *  3. A final E-step with the pruned vocabulary yields the reported
    *     frequencies and integer-ppm probabilities:
    *     prob_ppm = usage · 10⁶ div total_usage (integer div — exact and
    *     engine-portable; no float in the whole pipeline).
    *
    * Emits (piece, piece_len, freq, prob_ppm), one row per surviving
    * vocabulary piece.
    *
    * The Viterbi DP runs as |maxWordLen| Bellman-Ford sweeps over a
    * (word, pos) state relation: states extend along a precomputed edge
    * relation (every (start, piece-length) window of every word
    * equi-joined against the current vocabulary), and each sweep keeps
    * the per-(word, pos) argmin via a partial-aggregating `min(struct)` —
    * the same map-side-combinable argmin convention as the IVF cell
    * assignment. Words longer than `maxWordLen` are excluded from
    * training (the standard trainer practice; at the tail they contribute
    * one path each and no vocabulary signal).
    *
    * Scale shape (100 TB): the corpus-sized pass happens ONCE — the
    * distinct-word frequency aggregation (Heaps' law keeps the word table
    * ≪ corpus, exactly as [[bpeTrain]] argues); every DP sweep and prune
    * round then runs on O(words × maxWordLen) rows under the same
    * non-adaptive measured-size regime as [[bpeLoop]], with
    * [[Checkpoints.materialized]] cutting plan growth per sweep. Nothing
    * corpus-derived reaches the driver. */
  def unigramLmVocab(docs: DataFrame,
                     keepSchedule: Seq[Int] = Seq(60, 40),
                     maxPieceLen: Int = 4, maxWordLen: Int = 10,
                     minSeedFreq: Long = 2L, seedMax: Int = 150,
                     textCol: String = "text"): DataFrame = {
    // the one corpus pass: frequency-weighted word table
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    uniTrain(words, keepSchedule, maxPieceLen, maxWordLen,
      minSeedFreq, seedMax)._1()
  }

  /** Unigram-LM tokenization of the corpus with a vocabulary trained on
    * the corpus itself — [[unigramLmVocab]]'s train-then-encode shape,
    * mirroring [[bpeEncode]]: per document, the Viterbi token count under
    * the trained vocabulary, the character count, and the chars-per-token
    * compression ratio.
    *
    * Words longer than `maxWordLen` are outside the trainer's contract
    * (excluded from training, as in [[unigramLmVocab]]); they encode at
    * one token per character — the byte/char-fallback rule production
    * unigram tokenizers apply to out-of-model input, and a closed form
    * (`length(w)`) both engines compute without a DP.
    *
    * Scale shape identical to [[bpeEncode]]: the corpus is touched
    * exactly twice — the (doc, word) count shuffle (whose word-frequency
    * aggregation feeds the trainer) and the final word-key equi-join
    * against the O(vocab-words) per-word token-count relation. The
    * training loop itself never sees a corpus-sized relation. */
  def unigramEncode(docs: DataFrame,
                    keepSchedule: Seq[Int] = Seq(60, 40),
                    maxPieceLen: Int = 4, maxWordLen: Int = 10,
                    minSeedFreq: Long = 2L, seedMax: Int = 150,
                    textCol: String = "text",
                    docIdCol: String = "doc_id"): DataFrame = {
    val docWords = docs
      .select(col(docIdCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(docIdCol), col("w")).agg(count(lit(1)).as("k"))
    val words = docWords.filter(length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(sum(col("k")).as("cnt"))
    val wordToks = uniTrain(words, keepSchedule, maxPieceLen, maxWordLen,
      minSeedFreq, seedMax)._2()
    docWords.join(wordToks, Seq("w"), "left")
      .withColumn("wtoks",
        coalesce(col("wtoks"), length(col("w")).cast("long")))
      .groupBy(col(docIdCol))
      .agg(sum(col("k") * col("wtoks")).as("n_tokens"),
        sum(col("k") * length(col("w")).cast("long")).as("n_chars"))
      .select(col(docIdCol), col("n_tokens"), col("n_chars"),
        round(col("n_chars") * lit(1.0) / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** The frozen unigram-LM tokenizer artifact — the deployment half of
    * [[unigramEncode]]'s semantics, mirroring [[ngramLmModel]]: a
    * production tokenizer trains ONCE on a curated seed corpus and then
    * encodes everything against the frozen vocabulary, so at 100 TB the
    * trainer touches only the trusted slice and the corpus pays exactly
    * one encode pass ([[unigramEncodeAgainst]]). Returns the final
    * pruned scoring relation (piece, cnt) — the very vocabulary the
    * trainer's own final E-step segments under, so
    * `unigramEncodeAgainst(seed, unigramVocabModel(seed))` reproduces
    * `unigramEncode(seed)` exactly (spec-pinned). Vocabulary-shaped. */
  def unigramVocabModel(docs: DataFrame,
                        keepSchedule: Seq[Int] = Seq(60, 40),
                        maxPieceLen: Int = 4, maxWordLen: Int = 10,
                        minSeedFreq: Long = 2L, seedMax: Int = 150,
                        textCol: String = "text"): DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    uniTrain(words, keepSchedule, maxPieceLen, maxWordLen,
      minSeedFreq, seedMax)._3
  }

  /** Tokenize a batch against a FROZEN [[unigramVocabModel]] relation.
    * Unlike the self-trained [[unigramEncode]], batch words can be
    * outside the model's contract: words longer than `maxWordLen` and
    * words the vocabulary cannot segment at all (an unseen character —
    * impossible in the self-trained form, routine under a frozen model)
    * both encode at one token per character, the byte/char-fallback rule
    * production unigram tokenizers apply to out-of-model input.
    *
    * Scale shape: the batch pays ONE (doc, word) count shuffle; the
    * Viterbi runs over the DISTINCT batch words × maxWordLen state
    * relation (vocabulary-shaped) under the trainer's non-adaptive
    * regime; the join-back is one word-key equi-join. The model is never
    * re-derived — no training lineage in the plan. */
  def unigramEncodeAgainst(batch: DataFrame, model: DataFrame,
                           maxPieceLen: Int = 4, maxWordLen: Int = 10,
                           textCol: String = "text",
                           docIdCol: String = "doc_id"): DataFrame = {
    val sess = batch.sparkSession
    val docWords = batch
      .select(col(docIdCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(docIdCol), col("w")).agg(count(lit(1)).as("k"))
    val w0 = docWords
      .filter(length(col("w")) <= maxWordLen)
      .select(col("w")).distinct()
      .localCheckpoint()
    val wordToks = graft.Session.loopRegime(sess, w0.rdd.getNumPartitions) {
      Checkpoints.materialized(
        uniViterbi(w0, model, maxPieceLen, maxWordLen)
          .select(col("w"), col("np").as("wtoks")))
    }
    docWords.join(wordToks, Seq("w"), "left")
      .withColumn("wtoks",
        coalesce(col("wtoks"), length(col("w")).cast("long")))
      .groupBy(col(docIdCol))
      .agg(sum(col("k") * col("wtoks")).as("n_tokens"),
        sum(col("k") * length(col("w")).cast("long")).as("n_chars"))
      .select(col(docIdCol), col("n_tokens"), col("n_chars"),
        round(col("n_chars") * lit(1.0) / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** The seed → EM-prune → final-segment loop shared by [[unigramLmVocab]]
    * and [[unigramEncode]]. Takes the (w, cnt) word-frequency table;
    * returns the final vocabulary (eager — the EM loop must run) plus the
    * two derived artifacts as LAZY thunks (optimization r20): the
    * vocabulary report (piece, piece_len, freq, prob_ppm) and the
    * per-word Viterbi token counts (w, wtoks). Each caller needs exactly
    * ONE of the three, and the eager form materialized all of them on
    * every call — `unigramEncode` paid for the usage/report aggregates it
    * never read, `unigramVocabModel` for a whole final E-step. The thunks
    * re-enter the non-adaptive regime themselves, so forcing one runs
    * under the same measured sizing as the loop. */
  private def uniTrain(words: DataFrame, keepSchedule: Seq[Int],
                       maxPieceLen: Int, maxWordLen: Int,
                       minSeedFreq: Long, seedMax: Int)
      : (() => DataFrame, () => DataFrame, DataFrame) = {
    val sess = words.sparkSession
    def windows(c: Column): Column = uniWindows(c, maxPieceLen)
    val w0 = words.localCheckpoint()
    val loopParts = w0.rdd.getNumPartitions
    def viterbiOf(vocab: DataFrame): DataFrame =
      uniViterbi(w0, vocab, maxPieceLen, maxWordLen)
    def usageFrom(viterbi: DataFrame): DataFrame =
      viterbi.join(w0, "w")
        .select(explode(split(ltrim(col("path")), " ")).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("u"))
    val vocab = graft.Session.loopRegime(sess, loopParts) {
      val cand = w0
        .select(col("w"), col("cnt"), explode(windows(col("w"))).as("sp"))
        .select(col("w").substr(col("sp.start") + 1, col("sp.plen")).as("piece"),
          col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
      val seed = Checkpoints.materialized(
        cand.filter(length(col("piece")) === 1).unionByName(
          cand.filter(length(col("piece")) >= 2 && col("cnt") >= minSeedFreq)
            .orderBy(col("cnt").desc, col("piece").asc).limit(seedMax)))
      // M-step prune: chars always survive; longer pieces keep top keepK.
      // The E-step usage feed is consumed exactly once per prune, and the
      // DP E-step is a zero-shuffle projection — only the prune output
      // (the loop-carried relation) needs a materialization per round.
      def prune(vocab: DataFrame, usage: DataFrame, keepK: Int): DataFrame = {
        val scored = vocab.select(col("piece"))
          .join(usage, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("u"), lit(0L)).as("cnt"))
        Checkpoints.materialized(
          scored.filter(length(col("piece")) === 1).unionByName(
            scored.filter(length(col("piece")) >= 2)
              .orderBy(col("cnt").desc, col("piece").asc).limit(keepK)))
      }
      var v = seed
      for (keepK <- keepSchedule)
        v = prune(v, usageFrom(viterbiOf(v)), keepK)
      v
    }
    val vocabReport = () => graft.Session.loopRegime(sess, loopParts) {
      // finalUsage has two consumers (the report join and the total);
      // the E-step feeding it has one — materialize only the former
      val finalUsage = Checkpoints.materialized(usageFrom(viterbiOf(vocab)))
      val tot = finalUsage.agg(sum(col("u")).as("tot"))
      Checkpoints.materialized(
        vocab.select(col("piece"))
          .join(finalUsage, Seq("piece"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("freq", coalesce(col("u"), lit(0L)))
          .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
            col("freq"), expr("freq * 1000000 div tot").as("prob_ppm")))
    }
    val wordToks = () => graft.Session.loopRegime(sess, loopParts) {
      Checkpoints.materialized(
        viterbiOf(vocab).select(col("w"), col("np").as("wtoks")))
    }
    (vocabReport, wordToks, vocab)
  }

  /** Every (start, plen) substring window of a word, as one codegen'd
    * nested transform (windowCooc's no-self-join convention) — shared by
    * the trainer's seed/edge generation and the frozen-model encoder. */
  private def uniWindows(c: Column, maxPieceLen: Int): Column =
    flatten(transform(
      sequence(lit(0), length(c) - 1),
      s => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(c) - s)),
        l => struct(s.as("start"), l.as("plen")))))

  /** One Viterbi E-step: segment every word of `wordTable` (col `w`,
    * already a checkpoint leaf) under `vocab` (piece, cnt), minimizing
    * (piece count, −Σ piece cnt, path) lexicographically. Returns the
    * complete-word best states (w, np, path); words with NO complete path
    * (an unseen character under a frozen vocabulary) simply emit no row —
    * callers fall back per word.
    *
    * Execution shape (optimization r20): the vocabulary folds into ONE
    * broadcast map row (piece → cnt) and the whole per-word DP runs as a
    * single expression in position order — best[p] = min over piece
    * lengths l of extend(best[p−l], w[p−l+1..p]) — so an E-step is one
    * zero-shuffle projection job. The previous form iterated maxWordLen
    * Bellman-Ford sweeps, each a checkpointed join+aggregate job over the
    * (word × position) state relation: identical fixpoint (the piece DAG
    * is topological in p, so forward DP and sweep-to-fixpoint solve the
    * same recurrence, with the same min(struct(np, ns, path)) tie-break),
    * but ~12 driver-latency-bound jobs per E-step at sub-second task work
    * — measured 4.5 s wall / 0.11 s parallel compute for t_unigram_encode
    * at sf0.1/local[32] before, with THREE E-steps per training run. At
    * 100 TB the state relation is vocabulary-shaped either way (Heaps'
    * law); this form also drops the per-sweep shuffles entirely. */
  private def uniViterbi(wordTable: DataFrame, vocab: DataFrame,
                         maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val vmap = vocab.agg(map_from_entries(
      collect_list(struct(col("piece"), col("cnt")))).as("__vm"))
    val w = col("w")
    // best-prefix states, 1-indexed: entry p+1 = lexicographic-min
    // (np, ns, path) over segmentations of w[1..p]. Unreachable states are
    // a SENTINEL struct (np = Long.MaxValue) rather than a null element:
    // a null inside the accumulator array trips a codegen NPE in the
    // downstream UnsafeProjection, and the sentinel loses every array_min
    // against a real candidate anyway (real np ≤ maxWordLen).
    val unreachable =
      struct(lit(Long.MaxValue).as("np"), lit(0L).as("ns"), lit("").as("path"))
    val dp = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("np"), lit(0L).as("ns"), lit("").as("path"))),
      (acc, p) => array_append(acc, array_min(
        transform(sequence(lit(1), least(lit(maxPieceLen), p)), l => {
          val prev = element_at(acc, p - l + 1)
          val piece = w.substr(p - l + 1, l)
          val pcnt = element_at(col("__vm"), piece)
          when(prev.getField("np") =!= Long.MaxValue && pcnt.isNotNull,
            struct((prev.getField("np") + 1L).as("np"),
              (prev.getField("ns") - pcnt).as("ns"),
              concat(prev.getField("path"), lit(" "), piece).as("path")))
            .otherwise(unreachable)
        }))))
    wordTable
      .crossJoin(broadcast(vmap))
      .select(w, element_at(dp, length(w) + 1).as("__best"))
      .filter(col("__best.np") =!= Long.MaxValue)
      .select(w, col("__best.np").as("np"), col("__best.path").as("path"))
  }

  /** Windowed term co-occurrence counts — the word2vec/GloVe preprocessing
    * pass: every unordered token pair within `window` positions of each
    * other, counted corpus-wide, top `topK` by (count desc, w1 asc, w2 asc).
    *
    * No self-join: for token position i the (i, i+d) pairs for d ≤ window
    * are generated INSIDE one codegen'd nested `transform` over the token
    * array and exploded — the relation is corpus_tokens × window rows
    * exactly, never the |doc|² a positions self-join would risk, and the
    * only shuffle is the map-side-combinable pair count. Pairs are
    * canonicalized (least, greatest) so (a,b) and (b,a) accumulate
    * together. All-integer arithmetic; topK via TakeOrderedAndProject
    * (never a full sort). At 100 TB the un-topK'd count relation is itself
    * the product (a co-occurrence matrix bounded by tokens × window);
    * pass topK ≤ 0 to keep it all.
    *
    * The tokenized array is projected into its own column BEFORE the
    * nested lambdas: codegen does not common-subexpression-eliminate
    * across lambda-function boundaries, so an inlined `split` inside
    * `element_at` re-splits the document once per pair side — measured
    * 9.5 s → 1.1 s at sf0.1 for the materialized-column form. */
  def windowCooc(docs: DataFrame, window: Int = 3, topK: Int = 50,
                 textCol: String = "text"): DataFrame = {
    val t = col("__t")
    val pairs = docs
      .select(tokens(col(textCol)).as("__t"))
      .filter(size(t) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(t) - 1),
        i => transform(
          sequence(lit(1), least(lit(window), size(t) - i)),
          d => struct(
            least(element_at(t, i), element_at(t, i + d)).as("w1"),
            greatest(element_at(t, i), element_at(t, i + d)).as("w2"))))))
        .as("p"))
    val counts = pairs
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    if (topK <= 0) counts
    else counts.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Collocation mining: rank windowed co-occurrence pairs by association
    * lift — cnt(a,b)·N / (cnt(a)·cnt(b)), the exact rank order of PMI
    * (log is monotone) WITHOUT computing a log, so both engines agree
    * bit-for-bit. The score ships as `lift_scaled` = the ×10⁶ integer
    * quotient under INTEGER division — no floating point anywhere, because
    * ln() differs in the last ulp across math libraries and a rank
    * boundary can't be allowed to depend on that. (The ×10⁶ numerator
    * needs cnt·N·10⁶ < 2⁶³ — fine for any corpus whose pair counts fit a
    * partition's aggregate; for truly astronomical corpora scale the
    * constant down.)
    *
    * Scale shape: [[windowCooc]]'s tokens × window explode + one
    * map-side-combinable pair count, a vocab-sized unigram aggregate
    * joined on each side, and a 1-row broadcast total. TakeOrdered topK. */
  def collocations(docs: DataFrame, window: Int = 3, minCount: Long = 5,
                   topK: Int = 50, textCol: String = "text"): DataFrame = {
    val pairCounts = windowCooc(docs, window, topK = 0, textCol)
    val toks = docs.select(explode(tokens(col(textCol))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    pairCounts.filter(col("cnt") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("cnt"),
        expr("(cnt * n_total * CAST(1000000 AS BIGINT)) DIV (c1 * c2)")
          .as("lift_scaled"))
      .orderBy(col("lift_scaled").desc, col("cnt").desc,
        col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Top-p vocabulary coverage — the tokenizer-sizing question "how many
    * vocabulary entries cover `coveragePct`% of the token mass?": every
    * word whose EXCLUSIVE frequency-order prefix is still below the
    * coverage target, with its rank and inclusive cumulative count. The
    * keep rule is pure integer cross-multiplication
    * ((cum − c)·100 < pct·N), so both engines agree exactly.
    *
    * The corpus-wide prefix sum in (count desc, word asc) order does NOT
    * use a global single-partition window: the vocab relation is bucketed
    * by ⌊log₂(count)⌋ — deterministic, and order-PRESERVING because every
    * count in bucket b exceeds every count in bucket b+1 — giving the same
    * two-level shape as [[graft.ops.Packing.packSequences]]'s prefix sum
    * (≤ 64 bucket subtotals in a broadcast window, per-bucket windows for
    * the rest). Buckets only affect the Spark plan, never the output, so
    * the fp log2 needs no cross-engine story. Zipf skew note: the c = 1
    * singleton bucket holds the largest vocab share, so the widest
    * per-bucket sort is the long tail — bounded by distinct-singleton
    * count, and far below the corpus the un-bucketed window would sort. */
  def vocabCoverage(docs: DataFrame, coveragePct: Int = 95,
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val bucketed = uni.withColumn("__bucket", lit(63L) - floor(log2(col("c"))).cast("long"))
    val offsets = bucketed.groupBy(col("__bucket"))
      .agg(sum(col("c")).as("__bsum"), count(lit(1)).as("__bcnt"))
      .withColumn("__soff",
        coalesce(sum(col("__bsum")).over(Window.orderBy(col("__bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__coff",
        coalesce(sum(col("__bcnt")).over(Window.orderBy(col("__bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__soff"), col("__coff"))
    val wIn = Window.partitionBy(col("__bucket"))
      .orderBy(col("c").desc, col("w").asc)
    bucketed.join(broadcast(offsets), "__bucket")
      .withColumn("rank", (col("__coff") + row_number().over(wIn)).cast("long"))
      .withColumn("cum", col("__soff") +
        sum(col("c")).over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .filter((col("cum") - col("c")) * lit(100L) <
        lit(coveragePct.toLong) * col("n_total"))
      .select(col("rank"), col("w"), col("c"), col("cum"))
  }

  /** Bigram novelty profile: per document, how much of its (ordered)
    * bigram mass is corpus-common — bigrams occurring ≥ `minCf` times
    * corpus-wide. High common_ratio ⇒ boilerplate/templated text; low ⇒
    * novel (or noisy) content. The n-gram-LM-lite novelty signal that
    * needs no log-probabilities, so every number is integer counts plus
    * one rounded division.
    *
    * Scale shape: bigrams explode inside one codegen transform over the
    * materialized token column (the [[windowCooc]] lambda-CSE rule), the
    * per-(doc, bigram) and corpus-frequency aggregates are both map-side-
    * combinable, and the join back is on the bigram key — vocabulary²-
    * bounded in principle, corpus-token-bounded in fact. */
  def bigramNovelty(docs: DataFrame, minCf: Long = 5,
                    textCol: String = "text",
                    docIdCol: String = "doc_id"): DataFrame = {
    val t = col("__t")
    val bg = docs.select(col(docIdCol), tokens(col(textCol)).as("__t"))
      .filter(size(t) >= 2)
      .select(col(docIdCol), explode(transform(
        sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))).as("bg"))
    val db = bg.groupBy(col(docIdCol), col("bg")).agg(count(lit(1)).as("k"))
    val cf = db.groupBy(col("bg")).agg(sum(col("k")).as("cf"))
    db.join(cf, "bg")
      .groupBy(col(docIdCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(when(col("cf") >= minCf, col("k")).otherwise(lit(0L)))
          .as("n_common"))
      .select(col(docIdCol), col("n_bigrams"), col("n_common"),
        round(col("n_common") * lit(1.0) / col("n_bigrams"), 4)
          .as("common_ratio"))
  }

  /** Interpolated bigram language-model scoring — the KenLM-lite
    * perplexity filter (CCNet's headline quality signal; [[bigramNovelty]]
    * is its no-LM approximation): train unigram + bigram counts on the
    * corpus in one pass, then score every document's average per-transition
    * surprisal under the interpolated model
    * p(w₂|w₁) = ¾·C(w₁w₂)/C(w₁) + ¼·C(w₂)/T.
    *
    * Arithmetic discipline (the [[collocations]] rule — zero floats, so
    * DuckDB reproduces every value bit-for-bit):
    *  - p_ppm = (750000·C₁₂) div C₁ + (250000·C₂) div T — the probability
    *    in integer parts-per-million, each term bounded (C₁₂ ≤ C₁ by
    *    construction), two integer divisions;
    *  - per-transition surprisal third-bit-quantized via the CUBE:
    *    q3 = 60 − floor(log₂(max(p_ppm,1)³)), where floor(log₂ x) =
    *    length(bin(x)) − 1 — pure integer in both engines (no ln() ulp can
    *    move a boundary); p_ppm ≤ 2²⁰ ⇒ p³ ≤ 2⁶⁰ fits int64, and the cube
    *    buys log₂ resolution of ⅓ bit;
    *  - avg_bits_x100 = (100·Σk·q3) div (3·Σk) — average surprisal in
    *    centibits per transition; perplexity = 2^(avg/100). The keep gate
    *    compares integers.
    * Documents with < 2 tokens have no transitions: they score 0 and pass
    * (length gates, not perplexity, own that case — same convention as
    * spanCoverage's short-doc zeros).
    *
    * Scale shape (100 TB): the corpus is touched twice — the unigram count
    * and the per-(doc, bigram) count, both map-side-combinable; the model
    * relation is DISTINCT-bigram-bounded (vocabulary-shaped, not
    * corpus-shaped) and built with two vocab joins + a 1-row broadcast
    * total; the only corpus-shaped join keys per-doc bigram rows to the
    * model on the bigram — an equi-join AQE can skew-split. No windows,
    * no driver collect, nothing quadratic.
    *
    * "Touched twice" is enforced with persists (round 14): `uni` feeds
    * three model legs (w1, w2, total) and `db` two (model build +
    * scoring), so without pinning, lineage recompute runs the corpus
    * explode FIVE times — the honest 100× solo probe measured 52.8 s
    * where the shared-scan form costs ~17 s. `uni` is vocabulary-shaped
    * (MEMORY_AND_DISK); `db` is corpus-shaped and narrow, pinned
    * DISK_ONLY per the hashed-TF lesson (memory-resident corpus persists
    * degrade 2×+ under ambient pressure). Lifetime is owned by the
    * caller's action, the registry convention for lazily-returned
    * operators (Session.reset drops operator persists between queries). */
  def ngramLmPerplexity(docs: DataFrame, maxAvgBitsX100: Int = 1200,
                        textCol: String = "text"): DataFrame = {
    val t = col("__t")
    val toks = docs.select(col("doc_id"), tokens(col(textCol)).as("__t"))
    val uni = toks.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = uni.agg(sum(col("c")).as("t_total"))
    val db = toks.filter(size(t) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"),
          element_at(t, i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val model = db.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c12"))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        (expr("750000 * c12 div c1") + expr("250000 * c2 div t_total"))
          .as("p_ppm"))
    val scored = db.join(model, Seq("w1", "w2"))
      .withColumn("__p", greatest(col("p_ppm"), lit(1L)))
      .withColumn("__q3", lit(60L) -
        (length(bin(col("__p") * col("__p") * col("__p"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_trans"), sum(col("k") * col("__q3")).as("sum_q3"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("sum_q3"), lit(0L)).as("sum_q3"),
        coalesce(expr("100 * sum_q3 div (3 * n_trans)"), lit(0L))
          .as("avg_bits_x100"))
      .withColumn("ppx_keep",
        (col("avg_bits_x100") <= maxAvgBitsX100).cast("long"))
  }

  /** Frozen bigram-LM model relation — the deployment half of
    * [[ngramLmPerplexity]]'s semantics: CCNet scores candidate text with
    * an LM trained ONCE on a curated seed corpus (Wikipedia in the
    * paper), not with a self-trained model, so at 100 TB the model is
    * trained on the small trusted slice and everything else is scored
    * against it ([[ngramPerplexityAgainst]], or per micro-batch via
    * `StreamOps.screenAgainst`). Identical integer arithmetic to the
    * self-trained form: p(w₂|w₁) = ¾·C₁₂/C₁ + ¼·C₂/T in exact ppm.
    * Output (w1, w2, p_ppm) — DISTINCT-bigram-bounded
    * (vocabulary-shaped); one corpus pass builds both count relations
    * (`uni` pinned MEMORY_AND_DISK across its three legs). */
  def ngramLmModel(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col("__t")
    // NOT spread (r20, measured): unlike the shingle/md5 explodes, the
    // bigram partial aggregate's serial cost is small relative to the
    // spread's extra exchange + the fatter per-partition partial output
    // (distinct bigrams × partitions) — the spread variant measured
    // t_ngram_lm_ppx/t_ppx_against ~0.8-1.1 s SLOWER at sf0.1/32.
    val toks = docs.select(tokens(col(textCol)).as("__t"))
    val uni = toks.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = uni.agg(sum(col("c")).as("t_total"))
    toks.filter(size(t) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"),
          element_at(t, i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        (expr("750000 * c12 div c1") + expr("250000 * c2 div t_total"))
          .as("p_ppm"))
  }

  /** Score a batch against a FROZEN [[ngramLmModel]] relation. Unlike the
    * self-trained [[ngramLmPerplexity]], scored text can contain
    * transitions the model never saw: those drop out of the inner model
    * join and the centibit average runs over the SCORED transitions only,
    * with `n_trans` (all transitions) and `n_scored` (model-known) both
    * emitted so a caller can gate on OOV mass separately — the
    * deterministic-integer alternative to an unseen-transition penalty
    * (which would need a smoothing constant the oracle must mirror
    * anyway; a composition with the vocab-coverage gate covers it).
    *
    * Scale shape: ONE shuffle. Every bigram occurrence is a row (a doc
    * under 2 tokens, or null text, keeps one null row through
    * `explode_outer`, carrying its `n_trans`), left-joined to the model —
    * vocabulary-shaped and broadcast by the planner on its own size, with
    * each bigram's centibit cost computed once per model row — and
    * grouped by `doc_id`: n_scored counts the matched rows, and
    * avg_bits_x100 is 0 where n_scored is 0, so ANSI mode never divides by
    * zero. Output (doc_id, n_trans, n_scored, sum_q3, avg_bits_x100,
    * ppx_keep). */
  def ngramPerplexityAgainst(batch: DataFrame, model: DataFrame,
                             maxAvgBitsX100: Int = 1200,
                             textCol: String = "text"): DataFrame = {
    val t = col("__t")
    val p = greatest(col("p_ppm"), lit(1L))
    val costs = model.select(col("w1"), col("w2"),
      (lit(60L) - (length(bin(p * p * p)) - 1).cast("long")).as("__q3"))
    batch.select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        greatest(size(t) - 1, lit(0)).cast("long").as("n_trans"),
        explode_outer(when(size(t) >= 2, transform(
          sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"),
            element_at(t, i + 1).as("w2"))))).as("b"))
      .select(col("doc_id"), col("n_trans"), col("b.w1").as("w1"),
        col("b.w2").as("w2"))
      .join(costs, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_trans")).as("n_trans"), count(col("__q3")).as("n_scored"),
        coalesce(sum(col("__q3")), lit(0L)).as("sum_q3"))
      .withColumn("avg_bits_x100", when(col("n_scored") === 0, lit(0L))
        .otherwise(expr("100 * sum_q3 div (3 * n_scored)")))
      .withColumn("ppx_keep",
        (col("avg_bits_x100") <= maxAvgBitsX100).cast("long"))
  }

  /** Gopher-style rule battery (Rae et al. 2021, App. A1.1 adapted):
    * per-document pass/fail flags for the published heuristic gates —
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * alphabetic-word fraction, minimum stopword hits — plus the combined
    * keep verdict. Every ratio test is INTEGER cross-multiplication
    * (3n ≤ chars ≤ 10n instead of 3 ≤ chars/n ≤ 10), so the flags are
    * bit-identical across engines with zero float divisions. One narrow
    * codegen projection over the materialized token column — no shuffle,
    * embarrassingly parallel at any scale. */
  def gopherRules(docs: DataFrame, stopwords: Seq[String],
                  minWords: Int = 40, maxWords: Int = 100000,
                  textCol: String = "text"): DataFrame = {
    val t = col("__t")
    val n = size(t).cast("long")
    val chars = length(regexp_replace(col(textCol), " ", "")).cast("long")
    val alphaWords = size(filter(t, w => w.rlike("\\p{L}"))).cast("long")
    val symbolWords = size(filter(t,
      w => w.startsWith("#") || w.contains("..."))).cast("long")
    val stopHits = size(filter(t, w => w.isInCollection(stopwords))).cast("long")
    docs
      .select(col("doc_id"), col(textCol), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), n.as("n_words"), stopHits.as("stop_hits"),
        (n >= minWords && n <= maxWords).cast("long").as("ok_words"),
        (chars >= lit(3L) * n && chars <= lit(10L) * n).cast("long")
          .as("ok_word_len"),
        (lit(10L) * symbolWords <= n).cast("long").as("ok_symbols"),
        (lit(5L) * alphaWords > lit(4L) * n).cast("long").as("ok_alpha"),
        (stopHits >= 2L).cast("long").as("ok_stopwords"))
      .withColumn("is_keep",
        (col("ok_words") * col("ok_word_len") * col("ok_symbols") *
          col("ok_alpha") * col("ok_stopwords")).cast("long"))
  }

  /** Corpus datasheet: the per-(lang, source) composition numbers a
    * dataset card publishes — document/token/character counts and each
    * stratum's parts-per-million share of the token mass (integer `DIV`,
    * exact in both engines). One map-side-combinable aggregate over a
    * narrow projection plus a 1-row broadcast total; output bounded by
    * |lang| × |source|. */
  def corpusDatasheet(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val grouped = docs
      .select(col("lang"), col("source"),
        size(tokens(col(textCol))).cast("long").as("__nt"),
        length(regexp_replace(col(textCol), " ", "")).cast("long").as("__nc"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"))
    val total = grouped.agg(sum(col("n_tokens")).as("__tot"))
    grouped.crossJoin(broadcast(total))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        expr("(n_tokens * CAST(1000000 AS BIGINT)) DIV __tot").as("share_ppm"))
  }

  /** Per-document token statistics: token count, distinct count, uniqueness
    * ratio, mean token length. One narrow projection — no shuffle. */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      round(size(array_distinct(t)) * lit(1.0) / size(t), 4).as("uniq_ratio"),
      round(length(regexp_replace(col(textCol), " ", "")) * lit(1.0) / size(t), 4)
        .as("avg_token_len"))
  }

  /** Heuristic quality score in [0,1]: rewards length (capped), penalizes
    * stopword share, rewards lexical diversity. The exact weights are a
    * policy choice; what matters at scale is that this is a single codegen'd
    * projection over each document. */
  def qualityScore(docs: DataFrame, stopwords: Seq[String],
                   textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val stop = typedLit(stopwords)
    val stopRatio = size(filter(t, tk => array_contains(stop, tk))) * lit(1.0) / size(t)
    val uniqRatio = size(array_distinct(t)) * lit(1.0) / size(t)
    val lengthScore = least(size(t) * lit(1.0) / lit(100.0), lit(1.0))
    docs.select(
      col("doc_id"),
      round(stopRatio, 4).as("stop_ratio"),
      round(lit(0.4) * (lit(1.0) - stopRatio) + lit(0.3) * uniqRatio
        + lit(0.3) * lengthScore, 4).as("quality"))
  }

  /** Deterministic fixture weight vector for [[qualityModelScore]]: weight
    * i = (first md5 nibble of "qw:i") − 7, range [-7, 8] — the same
    * hash-seeded engine-portable pseudo-randomness as
    * [[graft.ops.EmbeddingSim.hyperplaneSignature]]'s planes. A real
    * pipeline trains these offline (logistic regression on labeled
    * good/bad docs) and passes them in; the scoring plan is identical. */
  def qualityModelWeights(dims: Int = 64): Array[Long] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { i =>
      ((digest.digest(s"qw:$i".getBytes("UTF-8"))(0) >> 4) & 0xf).toLong - 7L
    }
  }

  /** Model-based quality scoring — the C4/Gopher-style classifier filter
    * as a pure Catalyst plan: a linear model over hashing-trick token
    * features ([[graft.ops.Dedup.hashedTfFeatures]] builds the sparse
    * (doc_id, idx, v) side), integer weights folded into the plan as a
    * LITERAL array, so the sparse dot product is one codegen'd
    * `element_at` multiply inside a partial-aggregating sum — no weight
    * join, no UDF, no broadcast traffic. All-integer raw score (exactly
    * reproducible in any engine); the only floating-point op is the final
    * length normalization, one IEEE division.
    *
    * Output per doc: (doc_id, raw_score, n_tokens,
    * quality = round(raw/n_tokens, 4), is_keep = raw ≥ 0). The keep
    * decision compares the INTEGER raw score, so the gate cannot split on
    * a rounding edge. Scale shape: token explode → two hash aggregations
    * (both map-side combinable) → one equi-join back to the docs
    * projection; nothing wider than (doc_id, long) ever shuffles. */
  def qualityModelScore(docs: DataFrame, dims: Int = 64,
                        weights: Option[Array[Long]] = None,
                        textCol: String = "text"): DataFrame = {
    val w = typedLit(weights.getOrElse(qualityModelWeights(dims)))
    val raw = graft.ops.Dedup.hashedTfFeatures(docs, dims, textCol)
      .groupBy(col("doc_id"))
      .agg(sum(col("v") * element_at(w, col("idx").cast("int") + 1))
        .as("raw_score"))
    docs.select(col("doc_id"), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(raw, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("raw_score"), lit(0L)).as("raw_score"),
        col("n_tokens"),
        round(coalesce(col("raw_score"), lit(0L)).cast("double")
          / col("n_tokens"), 4).as("quality"),
        (coalesce(col("raw_score"), lit(0L)) >= 0L).cast("long").as("is_keep"))
  }

  /** Distributed trainer for [[qualityModelScore]]'s linear model — `iters`
    * fixed rounds of the BATCH perceptron over hashing-trick features, all
    * integer arithmetic so the weight trajectory is bit-identical in any
    * engine (the kmeans/BPE unrolled-rounds oracle convention; the
    * reference trains its model outside the engine in
    * `prediction/train.py` — here the data-side training loop IS engine
    * operators). Input is a labeled corpus (doc_id, text, `labelCol` ∈
    * {+1, −1}); round r computes every doc's integer margin y·⟨w, x⟩,
    * takes the subgradient Σ_{y·m ≤ 0} y·x over the misclassified set
    * (unit learning rate keeps weights integral), and adds it to w.
    * Weights start at zero, so round 1's update is the class-difference
    * vector Σ y·x — already a usable centroid classifier; later rounds
    * sharpen the boundary.
    *
    * Scale shape: the feature relation (doc_id, idx, v) is the only
    * corpus-shaped thing and it is persisted once (DISK_ONLY — re-read
    * twice per round, and the round-11/12 benches showed corpus-shaped
    * MemoryStore residents degrade under ambient pressure). Per round:
    * margins = feats ⋈ broadcast(w) (dims rows) → one map-side-combinable
    * hash-aggregate keyed on doc_id; gradient = feats ⋈ misclassified →
    * one hash-aggregate keyed on idx (dims groups). The loop-carried
    * weight relation is dims rows through [[graft.ops.Checkpoints
    * .materialized]], so plan statistics never compound. Nothing wider
    * than (long, long, long) ever shuffles; no collect — weights stay a
    * DataFrame end to end. Emits (idx, weight), dims rows. */
  def qualityModelTrain(labeled: DataFrame, dims: Int = 64, iters: Int = 3,
                        textCol: String = "text",
                        labelCol: String = "y"): DataFrame = {
    require(iters >= 1, "at least one training round")
    val spark = labeled.sparkSession
    val feats = graft.ops.Dedup.hashedTfFeatures(labeled, dims, textCol)
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val ys = labeled.select(col("doc_id"),
      col(labelCol).cast("long").as("__y"))
    var w = spark.range(dims).select(col("id").as("idx"),
      lit(0L).as("weight"))
    // Non-adaptive loop regime (r20; the connectedComponents / bpeLoop
    // convention): under AQE every exchange in the round materializes as
    // its own scheduled job plus a replan pass (~5 jobs/round measured at
    // sf0.1), and a loaded driver box taxes each job separately. With AQE
    // off, one round's whole margins→misclassified→gradient→update DAG
    // executes as ONE job (plus the dims-row weight broadcast). The
    // feature cache is FORCED first so the corpus-shaped feature build
    // (where AQE's adaptivity belongs) still runs adaptively, and the
    // loop's shuffle partitions are PINNED to the materialized feature
    // relation's own count (the connectedComponents sizing convention) —
    // without the pin the non-adaptive loop stages run at the session
    // width (32 micro-tasks per tiny stage at sf0.1, per-task fixed cost
    // ≫ the work; at scale the pin tracks the measured feature volume).
    // sized from the MEASURED row count (not rdd.getNumPartitions, which
    // reads the cached plan's pre-AQE estimate — 32 at sf0.1 — because
    // cached-plan compilation ignores AQE coalescing by default): ~1M
    // narrow feature rows per loop partition, floor 2.
    val featRows = feats.count()
    graft.Session.loopRegime(spark, (featRows / 1000000L).toInt + 1) {
      for (_ <- 0 until iters) {
        val margins = feats.join(broadcast(w), Seq("idx"))
          .groupBy(col("doc_id"))
          .agg(sum(col("v") * col("weight")).as("__m"))
        val mis = ys.join(margins, Seq("doc_id"))
          .filter(col("__y") * col("__m") <= 0)
          .select(col("doc_id"), col("__y"))
        val grad = feats.join(mis, Seq("doc_id"))
          .groupBy(col("idx"))
          .agg(sum(col("__y") * col("v")).as("__g"))
        w = Checkpoints.materialized(
          w.join(grad, Seq("idx"), "left")
            .select(col("idx"),
              (col("weight") + coalesce(col("__g"), lit(0L))).as("weight")))
      }
    }
    feats.unpersist()
    w
  }

  /** Score a batch under FROZEN [[qualityModelTrain]] weights — the
    * classifier member of the deployment-shape family ([[ngramLmModel]],
    * [[unigramVocabModel]], [[bpeMergesModel]]): the quality model trains
    * once on a labeled seed and everything else is scored against the
    * frozen dims-row weight relation. Emits (doc_id, margin, q_keep)
    * with margin = Σ v·weight over the doc's hashed-TF features and
    * q_keep = (margin > 0); docs with no scoreable features (empty text)
    * keep margin 0 → rejected, the conservative default.
    *
    * Scale shape: the batch is never shuffled. The weight relation folds
    * into ONE row holding a dims-long array (w[j] = the sum of the weights
    * at idx j, 0 where none: exactly what the sparse join summed), which
    * is broadcast-cross-joined, and the margin is one projection,
    * `long_array_dot(hashed_tf(text, dims), w)` — the native
    * [[graft.functions.HashedTf]] vector against the folded weights. Lazy
    * like every operator here; null text has no vector → margin 0. */
  def qualityScoreAgainst(batch: DataFrame, weights: DataFrame,
                          dims: Int = 64,
                          textCol: String = "text"): DataFrame = {
    val ws = col("__ws")
    val w = weights.coalesce(1) // dims rows: fold them without a shuffle
      .agg(collect_list(struct(col("idx").cast("long").as("i"),
        coalesce(col("weight").cast("long"), lit(0L)).as("w"))).as("__ws"))
      .select(transform(sequence(lit(0L), lit(dims - 1L)),
        j => aggregate(filter(ws, x => x("i") === j), lit(0L),
          (acc, x) => acc + x("w"))).as("__w"))
    batch.crossJoin(broadcast(w))
      .select(col("doc_id"), coalesce(LongArrayDot.dot(
        hashedTf(col(textCol), dims), col("__w")), lit(0L)).as("margin"))
      .withColumn("q_keep", (col("margin") > 0).cast("long"))
  }

  /** Corpus-relative quality gate: keep documents whose [[qualityScore]]
    * is at or above the `pct`-th percentile of the whole corpus — "drop the
    * worst X%" without hand-tuning an absolute threshold per corpus.
    *
    * `exact = true` uses `percentile` (interpolating, matches DuckDB's
    * `quantile_cont`, oracle-checkable) — but a single-group exact
    * percentile funnels EVERY quality value into one reducer, so it is for
    * verify-scale corpora only. At real scale pass `exact = false`:
    * `percentile_approx` is a mergeable Greenwald-Khanna sketch (map-side
    * partials, one small final merge), the standard trade. Either way the
    * threshold is a 1-row aggregate broadcast back — the corpus-sized side
    * is a narrow filter, same shape as Recent.anchorMax. */
  def qualityPercentileFilter(docs: DataFrame, stopwords: Seq[String],
                              pct: Double, exact: Boolean = true,
                              textCol: String = "text"): DataFrame = {
    val scored = qualityScore(docs, stopwords, textCol)
    val thr = scored.agg(
      (if (exact) percentile(col("quality"), lit(pct))
       else percentile_approx(col("quality"), lit(pct), lit(10000)))
        .as("__thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("quality") >= col("__thr"))
      .drop("__thr")
  }

  /** Marker-token language scoring (n-gram-profile language-ID in its
    * simplest deterministic form): score(candidate) = share of tokens in the
    * candidate's marker set; prediction = rank-1 by (score desc, lang asc).
    *
    * Shape: explode candidates (a tiny literal array — broadcast-free
    * projection), then one rank-1 window per doc. At 100 TB the window
    * partitions by doc_id (max cardinality), so there is no skew. */
  def languageId(docs: DataFrame, markers: Seq[(String, Seq[String])],
                 textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val cands = array(markers.map { case (lang, ms) =>
      struct(lit(lang).as("cand"), typedLit(ms).as("markers"))
    }: _*)
    val scored = docs
      .select(col("doc_id"), t.as("toks"), explode(cands).as("c"))
      .select(col("doc_id"), col("c.cand").as("cand"),
        round(size(filter(col("toks"), tk => array_contains(col("c.markers"), tk)))
          * lit(1.0) / size(col("toks")), 4).as("score"))
    Latest.keepFirst(scored, Seq("doc_id"), Seq(col("score").desc, col("cand").asc))
      .select(col("doc_id"), col("cand").as("pred_lang"), col("score"))
  }

  /** Hashed character-n-gram features over the NORMALIZED text — the
    * fastText-style (Joulin et al. 2016, "Bag of Tricks for Efficient
    * Text Classification") feature side of [[langIdTrain]], in the
    * [[graft.ops.Dedup.hashedTfFeatures]] hashing-trick discipline
    * (md5 first-two-nibbles mod dims — engine-portable), but over char
    * n-grams (language identity lives in character statistics, not
    * words) and with UNSIGNED counts (class-profile weights are
    * frequencies; the signed trick is for dot-product unbiasing, wrong
    * here). Emits (doc_id, idx, v); docs shorter than n characters
    * contribute no rows. Shape: ONE setup exchange of the parent text
    * rows, then explode + a single exchange-free (doc_id, idx) hash
    * aggregate whose partial maps are bounded by docs·dims; downstream
    * doc_id-keyed aggregates/windows reuse the spread (subset rule,
    * plan-pinned in TextStatsSpec). Nothing corpus-shaped shuffles. */
  def charNgramFeatures(docs: DataFrame, dims: Int = 64, n: Int = 3,
                        textCol: String = "text"): DataFrame = {
    def hexVal(c: Column): Column =
      when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)
    // Materialize the normalized text ONCE per row before the per-gram
    // lambda: a lambda body that embeds the normalize EXPRESSION
    // re-runs the regex for every array element (codegen subexpression
    // elimination does not hoist across higher-order-function bodies —
    // measured 11.4 → 3.5 s at sf0.1 from this hoist alone; the doc_id
    // spread below and the single-aggregate form take it to 1.4), while
    // a lambda over a projected
    // attribute reads the row's computed value. CollapseProject keeps
    // the projection: the alias is referenced more than once and
    // regexp_replace is not collapse-cheap.
    // ONE setup exchange of the parent text rows — the smallest relation
    // in the whole chain (every later relation is ~|text| gram rows per
    // doc) — before the ~|text|× explode. It buys: (1) layout-independent
    // parallelism for the fan-out stage (a single-split input otherwise
    // runs the explode+hash serially); (2) HashPartitioning(doc_id)
    // satisfies ClusteredDistribution for the (doc_id, idx) aggregate
    // below AND for every doc_id-keyed aggregate/window the lang-ID
    // callers add — so feature extraction, scoring, and rank-1 all run
    // with NO further exchange (plan-pinned in TextStatsSpec). The count
    // is EXPLICIT (Checkpoints.shufflePartitions) so AQE cannot coalesce
    // the tiny-bytes text exchange back to one partition — the spread is
    // for the ~|text|× fan-out AFTER the exchange, which AQE's
    // shuffle-bytes heuristic cannot see.
    val normed = docs
      .repartition(Checkpoints.shufflePartitions(docs.sparkSession),
        col("doc_id"))
      .select(col("doc_id"), normalize(col(textCol)).as("_norm"))
    val s = col("_norm")
    // explicit empty-array guard: sequence(1, 0) in Spark DESCENDS
    // (default step -1), so short texts would emit phantom windows
    val grams = when(length(s) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))
    // Hash each occurrence straight to its bucket and aggregate ONCE on
    // (doc_id, idx): a (doc_id, gram) pre-count barely dedupes (distinct
    // grams per doc ≈ gram occurrences for prose-length docs) yet its
    // partial hash maps are near-input-cardinality — the classic
    // degrade-to-spill partial aggregate; this form's partial maps are
    // bounded by docs-per-partition · dims and, under the doc_id spread
    // above, the aggregate is exchange-free. count ≡ the pre-count's
    // sum(cnt) exactly, so oracles replay either form. (Measured at
    // sf0.1/local[32]: identical walls, 3× less GC than the pre-count.)
    val h = fastMd5(col("t"))
    normed
      .select(col("doc_id"), explode(grams).as("t"))
      .select(col("doc_id"),
        ((hexVal(substring(h, 1, 1)) * 16
          + hexVal(substring(h, 2, 1))) % dims).cast("long").as("idx"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(count(lit(1)).as("v"))
  }

  /** TRAINED language-ID model — the fastText-shaped replacement for the
    * [[languageId]] marker heuristic (r19 verdict Next #3): a multiclass
    * linear model over hashed char-trigram features whose per-class
    * weight row is the class's ppm frequency profile,
    * weight(lang, idx) = (Σ_class v(idx)) · 10⁶ div (Σ_class Σ v) — the
    * multinomial class-conditional frequency in integer parts-per-
    * million, so training is exactly replayable in any engine (the
    * kmeans/BPE/perceptron integer-training convention; a gradient-
    * trained softmax would sharpen boundaries but put floats in the
    * weight path). Labels come from the labeled seed corpus (`langCol`).
    * Emits (lang, idx, weight) — at most |langs|·dims rows, the frozen
    * artifact every future batch scores against.
    *
    * Scale shape: one feature explode over the seed + three hash
    * aggregates (class cells, class totals, all map-side combinable) +
    * one |langs|-row broadcast join — the corpus is touched once. */
  def langIdTrain(labeled: DataFrame, dims: Int = 64,
                  textCol: String = "text",
                  langCol: String = "lang"): DataFrame = {
    val feats = charNgramFeatures(labeled, dims, 3, textCol)
    // materialize the class-count table (|langs|·dims rows — the trained
    // artifact's own size) BEFORE fanning out to its two consumers: it
    // feeds both the totals broadcast and the weights join, and the model
    // is itself re-executed by every broadcast(model) a caller plans —
    // without the leaf each of those re-runs the whole seed feature
    // explode (optimization r20: t_lang_id_against profiled 65 task-CPU-s
    // for ~25 s of single-pass work, the seed features executing ~3x; the
    // qualityModelTrain loop already returns a materialized leaf, this is
    // the same deployment-artifact discipline).
    val byClass = Checkpoints.materialized(feats
      .join(labeled.select(col("doc_id"), col(langCol).as("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"), col("idx"))
      .agg(sum(col("v")).as("cnt")))
    val totals = byClass.groupBy(col("lang")).agg(sum(col("cnt")).as("total"))
    byClass.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("idx"),
        expr("(cnt * 1000000) div total").as("weight"))
  }

  /** Classify a batch under FROZEN [[langIdTrain]] weights — the
    * language-ID member of the `*Against` deployment family
    * ([[qualityScoreAgainst]] is the binary twin): per (doc, lang),
    * score = Σ v·weight over the doc's hashed char-trigram features
    * (integer-exact), prediction = rank-1 by (score desc, lang asc).
    * A (doc, lang) pair shares no feature cell → no row → that lang
    * simply doesn't compete, identically in any engine. Docs with NO
    * features (empty/whitespace text) get no prediction row — callers
    * that must keep them left-join this output. Emits
    * (doc_id, pred_lang, score).
    *
    * Scale shape: one batch feature explode + a broadcast join against
    * the |langs|·dims-row model + one per-(doc, lang) combinable
    * aggregate + a rank-1 window partitioned by doc_id (max
    * cardinality — no skew). */
  def langIdAgainst(batch: DataFrame, model: DataFrame, dims: Int = 64,
                    textCol: String = "text"): DataFrame = {
    val scored = charNgramFeatures(batch, dims, 3, textCol)
      .join(broadcast(model), Seq("idx"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("v") * col("weight")).as("score"))
    Latest.keepFirst(scored, Seq("doc_id"),
        Seq(col("score").desc, col("lang").asc))
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
  }

  /** Content fingerprint: md5 of the normalized text. Used as the exact-dedup
    * key; md5 is identical across engines so the oracle can reproduce it. */
  def fingerprint(text: Column): Column = fastMd5(normalize(text))

  /** Rabin-Karp-style polynomial rolling hash over the normalized text's
    * character codes: h = fold(chars)((acc·31 + code) mod 2³¹−1). Exact
    * integer arithmetic — engine-portable, unlike library hash() functions —
    * and O(len) per document with no shuffle. The scale use: a cheap
    * pre-cluster key for exact dedup where md5 of multi-MB documents is
    * memory-bandwidth-bound (the rolling form also extends to windowed
    * substring fingerprints). */
  def rollingFingerprint(text: Column): Column = {
    val codes = filter(split(normalize(text), ""), c => length(c) > 0)
    aggregate(transform(codes, c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * 31 + x) % 2147483647L)
  }

  /** Top-k characteristic terms per group, tf-idf-style with a fully
    * deterministic integer ordering: rank by (term frequency in the group
    * desc, document frequency across the corpus asc, term asc). Floating
    * idf = ln(N/df) would rank identically for a monotone idf but its
    * low bits differ across engines; the (tf, df) ordering keeps the check
    * exact. Two hash aggregations + one rank window per group. */
  def topTermsPerGroup(docs: DataFrame, groupCol: String, k: Int,
                       stopwords: Seq[String],
                       textCol: String = "text"): DataFrame = {
    val stop = typedLit(stopwords)
    val tok = docs.select(col("doc_id"), col(groupCol),
        explode(tokens(col(textCol))).as("t"))
      .filter(!array_contains(stop, col("t")))
    val tf = tok.groupBy(col(groupCol), col("t")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("tf").desc, col("df").asc, col("t").asc)
    tf.join(df, "t")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("t").as("term"), col("tf"), col("df"))
  }

  /** The single most characteristic term of EACH document — the per-doc
    * keyword-extraction twin of [[topTermsPerGroup]], same fully
    * deterministic integer ordering (term frequency in the doc desc,
    * document frequency across the corpus asc, term asc; floating tf-idf
    * would rank identically but its low bits differ across engines).
    *
    * Scale shape: the argmax is ONE `min_by` aggregate over the ordering
    * struct. It plans as SortAggregate (struct buffers aren't
    * hash-aggregable in Spark — the same trade every `max_by(struct)` op
    * here makes, e.g. [[graft.ops.Latest.latestByMaxBy]]), but keeps the
    * property that matters at scale: map-side partial combine, so the
    * shuffle carries ONE candidate row per doc per input partition, and
    * the per-partition sort is by the grouping key over already-combined
    * rows — never a per-doc row_number window materializing and sorting
    * every (doc, term) pair in one task per doc (the oracle's window form
    * is exactly that plan). The ordering key is unique per (doc, term)
    * row, so ties cannot occur. The df relation joins back on the term —
    * O(distinct terms), broadcast-able for natural vocabularies. Output
    * (doc_id, term, tf, df), exact integers. */
  def docKeyword(docs: DataFrame, stopwords: Seq[String],
                 textCol: String = "text"): DataFrame = {
    val stop = typedLit(stopwords)
    val tok = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("t"))
      .filter(!array_contains(stop, col("t")))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(df, "t")
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("t").as("term"), col("tf"), col("df")),
        struct((-col("tf")).as("ntf"), col("df"), col("t"))).as("__k"))
      .select(col("doc_id"), col("__k.term").as("term"),
        col("__k.tf").as("tf"), col("__k.df").as("df"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"), the hashed-n-gram form in the
    * engine's exact-integer discipline: score every document by how much
    * more likely its hashed unigram+bigram features are under the TARGET
    * distribution (rows matching `targetPred` — e.g. a trusted source)
    * than under the RAW corpus, then keep the `topK` highest-weight docs.
    *
    * Model: features hash into `buckets` cells via the portable md5
    * [[graft.ops.Sampling.hashKey]] (mod buckets); per-cell add-1-
    * smoothed ppm probabilities for target and raw; the per-cell
    * log-ratio is quantized with the engine's floor-log₂ convention
    * (`length(bin(p³))-1`, third-bit resolution — the collocations /
    * ngramLmPerplexity discipline), so the importance weight
    * `dsir_q3 = Σ_features (q3(p_T) − q3(p_R))` is an exact integer and
    * DuckDB reproduces every rank bit-for-bit. Paper-faithful shape:
    * DSIR's bag-of-hashed-n-grams likelihood ratio, with resampling's
    * Gumbel noise replaced by deterministic top-k (the zero-rand
    * registry convention; ties break on doc_id).
    *
    * Scale design (100 TB): the feature relation is a narrow codegen
    * explode (no persist — recomputing it twice beats spilling a
    * corpus-sized relation, the winnow lesson); the model is ONE
    * map-side-combined hash-aggregate down to `buckets` rows with
    * conditional sums for the two corpora (never two corpus passes);
    * scoring joins the corpus-shaped features against the broadcast
    * `buckets`-row verdict and reduces per doc in one combinable
    * aggregate. Selection is TakeOrderedAndProject — no global sort, no
    * single-partition window. */
  def dsirWeights(docs: DataFrame, targetPred: Column, buckets: Int = 256,
                  topK: Int = 100, textCol: String = "text"): DataFrame = {
    require(buckets > 0 && topK > 0, "buckets and topK must be positive")
    val t = col("__t")
    val toks = docs.select(col("doc_id"), targetPred.as("__is_t"),
      tokens(col(textCol)).as("__t"))
    val uni = toks.select(col("doc_id"), col("__is_t"),
      explode(t).as("f"))
    val bi = toks.filter(size(t) >= 2)
      .select(col("doc_id"), col("__is_t"), explode(transform(
        sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))).as("f"))
    val feats = uni.unionAll(bi)
      .select(col("doc_id"), col("__is_t"),
        (Sampling.hashKey(col("f")) % buckets).as("b"))
    val model = feats.groupBy(col("b")).agg(
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val q3 = (p: Column) => (length(bin(p * p * p)) - 1).cast("long")
    val verdict = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (q3(expr(s"1000000 * (ct + 1) div (tt + $buckets)")) -
          q3(expr(s"1000000 * (cr + 1) div (tr + $buckets)"))).as("d"))
    feats.join(broadcast(verdict), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("d")).as("dsir_q3"))
      .orderBy(col("dsir_q3").desc, col("doc_id").asc)
      .limit(topK)
  }
}
