package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curation, Dedup, EmbeddingSim, Multimodal, Packing, Retrieval, Sampling, TextStats}
import QuerySpec.hexKeySql

/** Training-data pipeline operators over `documents` / `embeddings`
  * (the beyond-reference capability set: dedup family, similarity search,
  * text analysis). Every query is oracle-checked bit-for-bit: all hash
  * material is md5 (identical in DuckDB), and all similarity arithmetic is
  * integer-quantized so no float-summation-order divergence can occur
  * (see EmbeddingSim's scaladoc).
  */
object TrainingData {

  /** Stopword set for quality scoring (drawn from the corpus vocabulary). */
  private val Stopwords = Seq("the", "a")

  /** Marker-token profiles for the language-ID heuristic. The tokens are
    * English-looking for every label because the SYNTHETIC corpus draws all
    * languages from one English-word vocabulary — what varies per `lang` is
    * which tokens are frequent, and that frequency skew is exactly what the
    * n-gram-marker heuristic keys on. Real deployments supply real marker
    * profiles; the operator ([[graft.ops.TextStats.languageId]]) is
    * profile-agnostic. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("data", "group", "order", "window"),
    "en" -> Seq("the", "a", "table", "row"),
    "es" -> Seq("query", "scan", "batch", "stream"),
    "fr" -> Seq("line", "sort", "merge", "filter"),
    "zh" -> Seq("spark", "hash", "join", "column"))

  /** Per-language Bernoulli sample rates / mixture weights — shared between
    * the Spark operators and the generated oracle SQL so the two sides can
    * never drift. Weights are integers (exact in binary) so quota floors are
    * bit-identical across engines. */
  private val SampleRates: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 0.4, "es" -> 0.3, "fr" -> 0.2, "zh" -> 0.1)

  /** Retrieval fixture for `t_boolean_retrieval` (an API input like the
    * sampling weights — terms drawn from the corpus vocabulary; query 4's
    * single rare term exercises the selective-posting path, query 2's
    * 3-term AND the conjunctive filter). Rendered into the oracle VALUES
    * so the two sides can never drift. */
  /** The BM25 scoring CTE chain (query terms -> postings -> df -> exact
    * integer saturated-tf x capped-idf per-(query, doc) score `sc`),
    * shared by every oracle that consumes BM25 rankings. Pre-stripped:
    * interpolate after a `WITH q(query_id, terms) AS (VALUES
    * $retrievalSqlValues),` header. Mirrors `Retrieval.bm25Retrieval`. */
  private val Bm25ScoreCtes: String =
    """qt AS (SELECT query_id, unnest(terms) AS term FROM q),
tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
       FROM dl),
p AS (SELECT query_id, term, doc_id, tf FROM tf JOIN qt USING (term)),
dft AS (SELECT query_id, term, CAST(count(*) AS BIGINT) AS df
        FROM p GROUP BY 1, 2),
sc AS (SELECT p.query_id, p.doc_id,
         CAST(sum(least(((st.n_docs - dft.df) * 1000000) // dft.df, 20000000) *
                  ((22000 * p.tf * st.avgdl) //
                   (10 * p.tf * st.avgdl + 3 * st.avgdl + 9 * dl.dl))) AS BIGINT) AS score
       FROM p JOIN dft USING (query_id, term) JOIN dl USING (doc_id) CROSS JOIN st
       GROUP BY 1, 2)"""

  /** The hashed-TF perceptron TRAIN chain (t_quality_model_trained): tok
    * -> md5-hashed signed features -> parity label -> three unrolled
    * integer perceptron rounds ending at weight relation `w3`. `pred` is
    * a WHERE clause appended to both corpus scans so the Against oracle
    * trains on a slice. Pre-stripped; the m/g/w round CTEs follow inline
    * in the caller (they reference only feat/lab/w0). */
  private def qualityTrainHeadCtes(pred: String = ""): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents$pred),
tf AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
fx AS (SELECT doc_id,
         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx,
         CASE WHEN substr(md5(t), 3, 1) >= '8' THEN cnt ELSE -cnt END AS sv
       FROM tf),
feat AS (SELECT doc_id, idx, CAST(sum(sv) AS BIGINT) AS v FROM fx GROUP BY 1, 2),
lab AS (SELECT doc_id,
          CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                    >= len(string_split(text, ' '))
               THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
        FROM documents$pred),
w0 AS (SELECT i AS idx, CAST(0 AS BIGINT) AS w FROM range(64) r(i)),"""

  /** The three unrolled perceptron rounds (m/g/w CTEs ending at `w3`),
    * shared by the trainer oracle and the frozen-weights Against oracle.
    * References only feat/lab/w0 from [[qualityTrainHeadCtes]]. */
  private val QualityTrainRoundsCtes: String =
    """m1 AS (SELECT f.doc_id, CAST(sum(f.v * w.w) AS BIGINT) AS m
       FROM feat f JOIN w0 w USING (idx) GROUP BY 1),
g1 AS (SELECT f.idx, CAST(sum(l.y * f.v) AS BIGINT) AS g
       FROM feat f JOIN (SELECT l.doc_id, l.y FROM lab l
         JOIN m1 USING (doc_id) WHERE l.y * m1.m <= 0) l USING (doc_id)
       GROUP BY 1),
w1 AS (SELECT w0.idx, w0.w + coalesce(g1.g, 0) AS w
       FROM w0 LEFT JOIN g1 USING (idx)),
m2 AS (SELECT f.doc_id, CAST(sum(f.v * w.w) AS BIGINT) AS m
       FROM feat f JOIN w1 w USING (idx) GROUP BY 1),
g2 AS (SELECT f.idx, CAST(sum(l.y * f.v) AS BIGINT) AS g
       FROM feat f JOIN (SELECT l.doc_id, l.y FROM lab l
         JOIN m2 USING (doc_id) WHERE l.y * m2.m <= 0) l USING (doc_id)
       GROUP BY 1),
w2 AS (SELECT w1.idx, w1.w + coalesce(g2.g, 0) AS w
       FROM w1 LEFT JOIN g2 USING (idx)),
m3 AS (SELECT f.doc_id, CAST(sum(f.v * w.w) AS BIGINT) AS m
       FROM feat f JOIN w2 w USING (idx) GROUP BY 1),
g3 AS (SELECT f.idx, CAST(sum(l.y * f.v) AS BIGINT) AS g
       FROM feat f JOIN (SELECT l.doc_id, l.y FROM lab l
         JOIN m3 USING (doc_id) WHERE l.y * m3.m <= 0) l USING (doc_id)
       GROUP BY 1),
w3 AS (SELECT w2.idx, w2.w + coalesce(g3.g, 0) AS w
       FROM w2 LEFT JOIN g3 USING (idx))"""

  /** The frozen bigram-LM model build on the doc_id %% 7 != 0 seed slice (t_ppx_against), shared with the frozen pipeline oracle. Ends mid-list (trailing comma). */
  private val PpxAgainstModelCtes: String =
    """tr AS (SELECT string_split(text, ' ') AS t FROM documents
            WHERE doc_id % 7 <> 0),
u AS (SELECT unnest(t) AS w FROM tr),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM uni),
tbg AS (SELECT t[i] AS w1, t[i+1] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i
              FROM tr WHERE len(t) >= 2)),
model AS (SELECT w1, w2,
            (750000 * c12) // u1.c + (250000 * u2.c) // t.t_total AS p_ppm
          FROM (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM tbg GROUP BY 1, 2) bi
          JOIN uni u1 ON bi.w1 = u1.w
          JOIN uni u2 ON bi.w2 = u2.w
          CROSS JOIN tot t),"""

  /** Held-out scoring against the frozen model: per-doc model-known transition sums, ending at `sc` (doc_id, n_scored, sum_q3). Shared with the frozen pipeline oracle. */
  private val PpxAgainstScoreCtes: String =
    """hd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       WHERE doc_id % 7 = 0),
db AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2,
         CAST(count(*) AS BIGINT) AS k
       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
             FROM hd WHERE len(t) >= 2) GROUP BY 1, 2, 3),
sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_scored,
         CAST(sum(k * (60 - (length(bin(
           greatest(p_ppm, 1) * greatest(p_ppm, 1) * greatest(p_ppm, 1)
         )) - 1))) AS BIGINT) AS sum_q3
       FROM db JOIN model USING (w1, w2) GROUP BY doc_id)"""

  private val RetrievalQueries: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("hash", "join")),
    (2L, Seq("sort", "merge", "join")),
    (3L, Seq("stream", "window")),
    (4L, Seq("dup")))

  /** The minhash (a, b) coefficient CTE over the shingle relation
    * `sh(doc_id, s)`: a = hex 1–8 of md5(s) mod p, b = hex 9–16 mod
    * (p − 1) + 1, p = 2³¹ − 1 — the universal-hash family of
    * `Dedup.minhashSignature`. Pre-stripped: interpolate as a
    * `|$MinhashCoeffCte,` line. */
  private val MinhashCoeffCte: String =
    s"""ab AS (SELECT doc_id,
       |         ${hexKeySql("s")} % 2147483647 AS a,
       |         ${hexKeySql("s", 9)} % 2147483646 + 1 AS b
       |       FROM sh)""".stripMargin

  /** The minhash→LSH→closure CTE chain (shingle → KM signature → bands →
    * verified pairs → symmetric edges → recursive reachability → min-label
    * component), shared by every oracle that consumes the minhash closure.
    * Pre-stripped: interpolate into a `WITH RECURSIVE $MinhashClosureCtes`
    * header. Mirrors `Dedup.minhashLshComponents(threshold = 0.5)` with
    * 16 hashes / 4 bands. */
  private val MinhashClosureCtes: String =
    s"""sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM sp),
      |$MinhashCoeffCte,
      |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
      |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
      |bands AS (SELECT doc_id, b,
      |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
      |          FROM sig CROSS JOIN range(4) r(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |pairs AS (SELECT doc_a, doc_b
      |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
      |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT u, v FROM e
      |          UNION
      |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)""".stripMargin

  private def termQuerySqlValues(qs: Seq[(Long, Seq[String])]): String =
    qs.map { case (q, ts) =>
      s"(CAST($q AS BIGINT), [${ts.map(t => s"'$t'").mkString(", ")}])"
    }.mkString(", ")

  private def retrievalSqlValues: String = termQuerySqlValues(RetrievalQueries)

  /** Phrase fixture for `t_phrase_search`: consecutive-run queries over the
    * corpus vocabulary (bigrams that occur by construction, one trigram,
    * and a vocabulary-miss phrase that must return zero rows). */
  private val PhraseQueries: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("table", "hash")),
    (2L, Seq("part", "filter")),
    (3L, Seq("query", "big", "query")),
    (4L, Seq("warp", "drive")))

  private def phraseSqlValues: String = termQuerySqlValues(PhraseQueries)

  /** PII-bearing fixture rows union'd into the redaction query input: the
    * generated corpus contains no PII-shaped text (an oracle over it alone
    * would be vacuous), so these literals — true positives AND the
    * false-positive shapes PhoneRe's digit bound exists for (year
    * sequences, numeric tables, prices, dotted versions/dates) — are what
    * make `t_pii_redact` hash-checkable. Negative doc_ids can't collide
    * with corpus ids. Shared verbatim with the oracle SQL's VALUES
    * clause. */
  private val PiiFixture: Seq[(Long, String)] = Seq(
    (-10L, "macOS 10.15.73 then 11.2.38 shipped, due 12.04.2026 latest"),
    (-9L, "dial 555.123.4567 today"),
    (-8L, "mixed: eve@corp.io at 8.8.8.8 called +1 650 253 0000"),
    (-7L, "price 19.99 and 29.99 only"),
    (-6L, "table 12 34 56 78 90 12 34 ends"),
    (-5L, "years 2024 2025 2026 2027 follow"),
    (-4L, "dial 555-123-4567 or 0912345678"),
    (-3L, "call +84 28 3823 4999 or (028) 3823-4999 now"),
    (-2L, "server at 192.168.0.1 and 10.0.0.255 responded"),
    (-1L, "contact alice@example.com or bob.smith+tag@sub.domain.org today"))
  private val MixWeights: Seq[(String, Double)] = Seq(
    "en" -> 4.0, "de" -> 2.0, "es" -> 2.0, "fr" -> 1.0, "zh" -> 1.0)

  /** HTML fixture for `t_strip_markup` (same rationale as [[PiiFixture]]:
    * the corpus has no markup, so crawl-shaped HTML is constructed — and
    * these literals pin the edge semantics: nested tags, case-insensitive
    * script/style block removal WITH their bodies, comments hiding markup,
    * entity decode incl. the double-encoded `&amp;lt;` staying literal,
    * the unclosed-script fallback, and multi-line whitespace collapse).
    * No single quotes in the literals — they are interpolated into the
    * oracle's VALUES verbatim. */
  private val HtmlFixture: Seq[(Long, String)] = Seq(
    (-8L, "<div><p><b>bold <i>nested</i></b> tail</p></div>"),
    (-7L, "<p>keep</p><SCRIPT type=\"text/javascript\">if (a < b) { alert(1); }</SCRIPT><p>also</p>"),
    (-6L, "<style>.x { display: none; }</style>visible text only"),
    (-5L, "before<!-- <p>hidden</p> secret -->after"),
    (-4L, "Fish &amp; Chips say &quot;hi&quot; to &lt;b&gt;not bold&lt;/b&gt; caf&#39;e&nbsp;end"),
    (-3L, "&amp;lt;p&amp;gt; stays literal text"),
    (-2L, "<script>var danger = 1; <p>unclosed script leaves its text"),
    (-1L, "<p>\n  line one\n</p>\n<p>line&nbsp;&nbsp;two</p>"))

  /** The crawl-HTML construction for `t_strip_markup`, written once and
    * used verbatim by BOTH engines (the [[UrlVariantCaseSql]] pattern):
    * each doc's text wrapped in a page shell with a style block, a script
    * block containing `<`/`&&`, a comment, attributes, and entity-encoded
    * boilerplate — so the corpus side exercises every removal class, and
    * the density gate sees realistic shell overhead. */
  private val HtmlWrapSql: String =
    """'<!DOCTYPE html><html><head><title>' || source || '</title>""" +
      """<style type="text/css">body { color: red; }</style>""" +
      """<script src="app.js">var x = 1 < 2 && y > 0;</script></head>""" +
      """<body class="main"><!-- nav: ' || lang || """ +
      """' --><div id="content"><p>' || text || """ +
      """'</p><p>&amp; more &lt;tags&gt;&nbsp;here</p></div></body></html>'"""

  /** URL fixture for `dd_url_canonical` (same rationale as [[PiiFixture]]:
    * the corpus has no URL column, so crawl-shaped URLs are constructed —
    * and these literals pin the NEGATIVE space: ports and punycode
    * preserved, path case preserved, scheme/www/tracking/fragment/trailing-
    * slash variants collapsed). Shared verbatim with the oracle VALUES. */
  private val UrlFixture: Seq[(Long, String)] = Seq(
    (-8L, "https://example.com:8080/a/"),  // port is a different origin
    (-7L, "http://xn--bcher-kva.example/b"), // punycode NOT decoded
    (-6L, "HTTPS://WWW.Example.com/A/B/"), // case/scheme/www/slash variant…
    (-5L, "http://example.com/A/B"),       // …of this — one group
    (-4L, "https://example.com/path?utm_source=x&utm_campaign=y"),
    (-3L, "https://example.com/path?gclid=abc123"),
    (-2L, "https://example.com/path"),     // -4/-3/-2: one group
    (-1L, "https://example.com/Path"))     // path case preserved: NOT -2's group

  /** The crawl-URL construction for `dd_url_canonical`, written once and
    * rendered to both engines: pages are `doc_id div 3` (so ~3 crawl
    * variants of each page exist to collapse), and the `doc_id mod 5`
    * variant exercises tracking params, a ref'd trailing slash, a
    * fragment, a REAL param that must survive, and slash runs. */
  private val UrlVariantCaseSql: String =
    """CASE CAST(doc_id % 5 AS INT)
      |  WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
      |  WHEN 1 THEN '/?ref=home'
      |  WHEN 2 THEN '#section-2'
      |  WHEN 3 THEN '?id=' || CAST(doc_id // 3 AS VARCHAR) || '&utm_medium=email'
      |  ELSE '///' END""".stripMargin

  /** One unrolled Lloyd round for the ann_ivf_trained oracle: assign every
    * vector to its nearest centroid from `prev`, then rebuild each cell's
    * centroid as the per-dimension floor(mean) — the exact arithmetic of
    * EmbeddingSim.kmeansCentroids, so N generated rounds ≡ iters = N. */
  private def kmeansRoundSql(round: Int, prev: String): String =
    s"""a$round AS (SELECT vec_id, cid FROM (
       |         SELECT m.vec_id, c.cid,
       |                m.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.cq[i])) AS d2
       |         FROM m CROSS JOIN $prev c)
       |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
       |c$round AS (SELECT cid, cq, list_sum(list_transform(cq, x -> x * x)) AS cn2 FROM (
       |         SELECT cid, list(v ORDER BY d) AS cq FROM (
       |           SELECT a$round.cid, r.d, CAST(floor(sum(m.qv[d]) * 1.0 / count(*)) AS BIGINT) AS v
       |           FROM a$round JOIN m USING (vec_id) CROSS JOIN range(1, 65) r(d)
       |           GROUP BY a$round.cid, r.d)
       |         GROUP BY cid))""".stripMargin

  /** One unrolled greedy k-center round for the sample_kcenter oracle:
    * argmax of the running min-d² (ties toward the smaller id, exactly
    * the operator's TakeOrdered ordering), then fold the new center's
    * distance into every remaining candidate's min and drop the selected
    * row from the pool. km CTEs are MATERIALIZED — each is referenced by
    * both the next round's argmax and its pool update, and inlining
    * doubles the scan tree per round. */
  private def kcRoundSql(r: Int): String =
    s"""kc$r AS MATERIALIZED (SELECT vec_id, qv, n2, md FROM km${r - 1}
       |        ORDER BY md DESC, vec_id ASC LIMIT 1),
       |km$r AS MATERIALIZED (SELECT m.vec_id, m.qv, m.n2,
       |           least(m.md, m.n2 + c.n2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.qv[i]))) AS md
       |         FROM km${r - 1} m CROSS JOIN kc$r c
       |         WHERE m.vec_id <> c.vec_id)""".stripMargin

  /** One unrolled BPE training round for the t_bpe_merges oracle: count
    * adjacent symbol pairs (weighted by word frequency), take the
    * (count desc, l asc, r asc) argmax, apply the merge with the same
    * double-space replace as TextStats.bpeTrain. `carry` prepends extra
    * pass-through columns (e.g. "w, " for the t_bpe_encode oracle, which
    * threads the original word alongside the evolving symbol string —
    * mirroring TextStats.bpeLoop's carry columns). */
  private def bpeRoundSql(n: Int, carry: String = ""): String =
    s"""p$n AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |  SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
       |         unnest(list_transform(range(1, len(sy)), i -> sy[i+1])) AS r,
       |         cnt
       |  FROM (SELECT string_split(trim(str), '  ') AS sy, cnt FROM w${n - 1}))
       |  GROUP BY 1, 2),
       |t$n AS (SELECT l, r, c FROM p$n ORDER BY c DESC, l ASC, r ASC LIMIT 1),
       |w$n AS (SELECT ${carry}replace(str, ' ' || l || '  ' || r || ' ', ' ' || l || r || ' ') AS str, cnt
       |        FROM w${n - 1} CROSS JOIN t$n)""".stripMargin

  /** Unigram-LM trainer oracle helpers (t_unigram_lm_vocab): mirror
    * TextStats.unigramLmVocab exactly — seed substring counts, then per
    * E-step a maxWordLen-sweep Bellman-Ford Viterbi DP as unrolled CTEs
    * with the (np, ns, path) argmin realized as a rank-1 window (the
    * window ORDER BY reproduces Spark's min(struct) lexicographic order
    * bit-for-bit on ASCII), then the chars-always/top-K prune. */
  private val UniMaxWordLen = 10
  private val UniMaxPieceLen = 4

  private def uniEdgesSql(r: Int, wt: String = "uwords"): String =
    s"""ue$r AS MATERIALIZED (SELECT ww.w, t.st, t.st + p.plen AS endp,
       |         substr(ww.w, t.st + 1, p.plen) AS piece, v.cnt AS pcnt
       |  FROM $wt ww
       |  CROSS JOIN range(0, $UniMaxWordLen) t(st)
       |  CROSS JOIN range(1, ${UniMaxPieceLen + 1}) p(plen)
       |  JOIN uvocab${r - 1} v ON v.piece = substr(ww.w, t.st + 1, p.plen)
       |  WHERE t.st + p.plen <= length(ww.w))""".stripMargin

  private def uniSweepSql(r: Int, k: Int): String =
    s"""us${r}_$k AS MATERIALIZED (SELECT w, pos, np, ns, path FROM (
       |  SELECT w, pos, np, ns, path,
       |         row_number() OVER (PARTITION BY w, pos ORDER BY np, ns, path) AS rk
       |  FROM (SELECT w, pos, np, ns, path FROM us${r}_${k - 1}
       |        UNION ALL
       |        SELECT s.w, e.endp AS pos, s.np + 1 AS np, s.ns - e.pcnt AS ns,
       |               s.path || ' ' || e.piece AS path
       |        FROM us${r}_${k - 1} s JOIN ue$r e ON e.w = s.w AND e.st = s.pos))
       |  WHERE rk = 1)""".stripMargin

  private def uniEStepSql(r: Int, wt: String = "uwords"): String = (
    Seq(uniEdgesSql(r, wt),
      s"us${r}_0 AS MATERIALIZED (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS np, " +
        s"CAST(0 AS BIGINT) AS ns, '' AS path FROM $wt)") ++
    (1 to UniMaxWordLen).map(k => uniSweepSql(r, k)) ++
    Seq(s"""uu$r AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM (
       |  SELECT unnest(string_split(ltrim(s.path, ' '), ' ')) AS piece, ww.cnt
       |  FROM us${r}_$UniMaxWordLen s JOIN $wt ww ON ww.w = s.w AND s.pos = length(s.w))
       |GROUP BY piece)""".stripMargin)
  ).mkString(",\n")

  private def uniPruneSql(r: Int, keepK: Int): String =
    s"""uvocab$r AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT v.piece, coalesce(u.u, CAST(0 AS BIGINT)) AS cnt
       |    FROM uvocab${r - 1} v LEFT JOIN uu$r u ON u.piece = v.piece
       |    WHERE length(v.piece) = 1)
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT v.piece, coalesce(u.u, CAST(0 AS BIGINT)) AS cnt
       |    FROM uvocab${r - 1} v LEFT JOIN uu$r u ON u.piece = v.piece
       |    WHERE length(v.piece) >= 2
       |    ORDER BY cnt DESC, v.piece ASC LIMIT $keepK))""".stripMargin

  private def markersSqlValues: String =
    LangMarkers.map { case (l, ms) =>
      s"('$l', [${ms.map(m => s"'$m'").mkString(", ")}])"
    }.mkString(", ")

  /** The interpolated-bigram-LM scoring CTE chain (the t_ngram_lm_ppx
    * oracle), shared with sample_ppx_buckets: `sc` ends as (doc_id,
    * n_trans, sum_q3) — per-doc third-bit-quantized surprisal sums under
    * p(w2|w1) = 3/4·C12/C1 + 1/4·C2/T in integer ppm. */
  private val PpxScoreCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |u AS (SELECT unnest(t) AS w FROM tk),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM uni),
      |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |             FROM tk WHERE len(t) >= 2)),
      |db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
      |       FROM bg GROUP BY 1, 2, 3),
      |model AS (SELECT w1, w2,
      |            (750000 * c12) // u1.c + (250000 * u2.c) // t.t_total AS p_ppm
      |          FROM (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12
      |                FROM db GROUP BY 1, 2) bi
      |          JOIN uni u1 ON bi.w1 = u1.w
      |          JOIN uni u2 ON bi.w2 = u2.w
      |          CROSS JOIN tot t),
      |sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trans,
      |         CAST(sum(k * (60 - (length(bin(
      |           greatest(p_ppm, 1) * greatest(p_ppm, 1) * greatest(p_ppm, 1)
      |         )) - 1))) AS BIGINT) AS sum_q3
      |       FROM db JOIN model USING (w1, w2) GROUP BY doc_id)""".stripMargin

  /** The oracle of `dd_incremental_exact`, shared by
    * `dd_incremental_bloom` and `stream_dedup_screen`. */
  private[queries] val IncrementalExactSql: String =
    """WITH store AS (SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      |                      min(doc_id) AS canonical_id
      |               FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
      |b AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |      FROM documents WHERE doc_id % 10 = 0)
      |SELECT b.doc_id, CAST(s.canonical_id IS NULL AS BIGINT) AS is_new,
      |       s.canonical_id
      |FROM b LEFT JOIN store s USING (fp) ORDER BY doc_id"""

  /** The oracle of `dd_minhash_lsh`, shared by `dd_minhash_auto`. */
  private[queries] val MinhashLshSql: String =
    s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM sp),
      |$MinhashCoeffCte,
      |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
      |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
      |bands AS (SELECT doc_id, b,
      |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
      |          FROM sig CROSS JOIN range(4) r(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |       round(len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0, 4) AS est_jaccard
      |FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
      |WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5
      |ORDER BY doc_a, doc_b"""

  /** The oracle of `dd_cluster_minhash`, shared by `dd_incremental_cc`. */
  private[queries] val ClusterMinhashSql: String =
    s"""WITH RECURSIVE $MinhashClosureCtes
      |SELECT d.doc_id,
      |       coalesce(c.component, d.doc_id) AS canonical_id,
      |       CAST(d.doc_id = coalesce(c.component, d.doc_id) AS BIGINT) AS is_canonical
      |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      |ORDER BY d.doc_id"""

  val all: Seq[QuerySpec] = Seq(

    // ---- Text analysis -------------------------------------------------

    QuerySpec.sql("t_token_stats",
      """SELECT doc_id, len(sp) AS n_tokens, len(list_distinct(sp)) AS n_distinct,
        |       round(len(list_distinct(sp)) * 1.0 / len(sp), 4) AS uniq_ratio,
        |       round(length(replace(text, ' ', '')) * 1.0 / len(sp), 4) AS avg_token_len
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents)
        |ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.tokenStats(Tables.documents(s, dir))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("n_distinct").cast("long").as("n_distinct"),
            col("uniq_ratio"), col("avg_token_len"))
          .orderBy(col("doc_id"))
    },

    QuerySpec.sql("t_quality_score",
      """SELECT doc_id,
        |       round(len(list_filter(sp, t -> list_contains(['the', 'a'], t))) * 1.0 / len(sp), 4) AS stop_ratio,
        |       round(0.4 * (1.0 - len(list_filter(sp, t -> list_contains(['the', 'a'], t))) * 1.0 / len(sp))
        |             + 0.3 * (len(list_distinct(sp)) * 1.0 / len(sp))
        |             + 0.3 * least(len(sp) * 1.0 / 100.0, 1.0), 4) AS quality
        |FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
        |ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.qualityScore(Tables.documents(s, dir), Stopwords)
          .orderBy(col("doc_id"))
    },

    // Corpus-relative quality gate: keep the top quartile by quality score.
    // The exact interpolating percentile matches DuckDB quantile_cont; the
    // production path at scale is percentile_approx (see
    // TextStats.qualityPercentileFilter scaladoc).
    QuerySpec.sql("t_quality_filter",
      """WITH q AS (
        |  SELECT doc_id,
        |         round(len(list_filter(sp, t -> list_contains(['the', 'a'], t))) * 1.0 / len(sp), 4) AS stop_ratio,
        |         round(0.4 * (1.0 - len(list_filter(sp, t -> list_contains(['the', 'a'], t))) * 1.0 / len(sp))
        |               + 0.3 * (len(list_distinct(sp)) * 1.0 / len(sp))
        |               + 0.3 * least(len(sp) * 1.0 / 100.0, 1.0), 4) AS quality
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)),
        |thr AS (SELECT quantile_cont(quality, 0.75) AS t FROM q)
        |SELECT doc_id, stop_ratio, quality FROM q, thr
        |WHERE quality >= t ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.qualityPercentileFilter(Tables.documents(s, dir), Stopwords, 0.75)
          .orderBy(col("doc_id"))
    },

    QuerySpec.sql("t_lang_id",
      s"""WITH scored AS (
        |  SELECT doc_id, cand,
        |         round(len(list_filter(sp, t -> list_contains(markers, t))) * 1.0 / len(sp), 4) AS score
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
        |       CROSS JOIN (VALUES $markersSqlValues) langs(cand, markers))
        |SELECT doc_id, cand AS pred_lang, score
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) = 1
        |ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.languageId(Tables.documents(s, dir), LangMarkers)
          .orderBy(col("doc_id"))
    },

    // TRAINED language-ID, the model artifact (r19 verdict Next #3 —
    // the marker heuristic above was the one toy among the text
    // operators): a fastText-shaped multiclass linear model over
    // hashed char-trigram features of the NORMALIZED text, trained on
    // the %3≠0 labeled seed. weight(lang, idx) = class ppm frequency
    // profile — integer div, so the oracle replays the trigram
    // explode, the md5 nibble hash, and both aggregates exactly.
    QuerySpec.sql("t_lang_id_trained",
      """WITH d AS (SELECT doc_id, lang, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |           FROM documents
        |           WHERE doc_id % 3 <> 0 AND text IS NOT NULL AND lang IS NOT NULL),
        |g AS (SELECT lang, unnest(list_transform(range(1, len(s) - 1), i -> s[i:i+2])) AS t
        |      FROM d),
        |fx AS (SELECT lang,
        |         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx
        |       FROM g),
        |c AS (SELECT lang, idx, CAST(count(*) AS BIGINT) AS cnt FROM fx GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY 1)
        |SELECT c.lang, c.idx, CAST((c.cnt * 1000000) // tot.total AS BIGINT) AS weight
        |FROM c JOIN tot USING (lang) ORDER BY lang, idx""") {
      (s, dir) => {
        val seed = Tables.documents(s, dir)
          .filter(col("doc_id") % 3 =!= 0 && col("text").isNotNull &&
            col("lang").isNotNull)
        TextStats.langIdTrain(seed).orderBy(col("lang"), col("idx"))
      }
    },

    // Frozen-weights language-ID classification — the `*Against`
    // deployment form: the model trains once on the %3≠0 labeled seed,
    // the held-out %3=0 slice classifies against the frozen
    // |langs|·dims weight relation (broadcast join + per-(doc, lang)
    // integer score + rank-1 by (score desc, lang asc)). The oracle
    // replays train AND inference digit-for-digit.
    QuerySpec.sql("t_lang_id_against",
      """WITH d AS (SELECT doc_id, lang, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |           FROM documents
        |           WHERE doc_id % 3 <> 0 AND text IS NOT NULL AND lang IS NOT NULL),
        |g AS (SELECT lang, unnest(list_transform(range(1, len(s) - 1), i -> s[i:i+2])) AS t
        |      FROM d),
        |fx AS (SELECT lang,
        |         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx
        |       FROM g),
        |c AS (SELECT lang, idx, CAST(count(*) AS BIGINT) AS cnt FROM fx GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY 1),
        |w AS (SELECT c.lang, c.idx, CAST((c.cnt * 1000000) // tot.total AS BIGINT) AS weight
        |      FROM c JOIN tot USING (lang)),
        |hd AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |       FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
        |hg AS (SELECT doc_id, unnest(list_transform(range(1, len(s) - 1), i -> s[i:i+2])) AS t
        |       FROM hd),
        |hfx AS (SELECT doc_id,
        |          ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |           + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx
        |        FROM hg),
        |hf AS (SELECT doc_id, idx, CAST(count(*) AS BIGINT) AS v FROM hfx GROUP BY 1, 2),
        |sc AS (SELECT f.doc_id, w.lang, CAST(sum(f.v * w.weight) AS BIGINT) AS score
        |       FROM hf f JOIN w USING (idx) GROUP BY 1, 2)
        |SELECT doc_id, lang AS pred_lang, score FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
        |ORDER BY doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val seed = docs.filter(col("doc_id") % 3 =!= 0 &&
          col("text").isNotNull && col("lang").isNotNull)
        val batch = docs.filter(col("doc_id") % 3 === 0 &&
          col("text").isNotNull)
        TextStats.langIdAgainst(batch, TextStats.langIdTrain(seed))
          .orderBy(col("doc_id"))
      }
    },

    QuerySpec.sql("t_top_terms",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |flt AS (SELECT * FROM tok WHERE NOT list_contains(['the', 'a'], t)),
        |tf AS (SELECT lang, t, count(*) AS tf FROM flt GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM (SELECT DISTINCT doc_id, t FROM flt) GROUP BY 1)
        |SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY tf DESC, df ASC, t ASC) AS rank,
        |       t AS term, tf, df
        |FROM tf JOIN df USING (t)
        |QUALIFY rank <= 5 ORDER BY lang, rank""") {
      (s, dir) =>
        TextStats.topTermsPerGroup(Tables.documents(s, dir), "lang", 5, Stopwords)
          .select(col("lang"), col("rank").cast("long").as("rank"),
            col("term"), col("tf"), col("df"))
          .orderBy(col("lang"), col("rank"))
    },

    // Per-doc keyword: the argmax is one min_by aggregate over the integer
    // ordering (tf desc, df asc, term asc) — it plans as SortAggregate
    // (struct buffers aren't hash-aggregable) but keeps map-side partial
    // combine; the oracle's per-doc row_number window materializes and
    // sorts every (doc, term) pair instead.
    QuerySpec.sql("t_doc_keyword",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |flt AS (SELECT * FROM tok WHERE NOT list_contains(['the', 'a'], t)),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM flt GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM (SELECT DISTINCT doc_id, t FROM flt) GROUP BY 1)
        |SELECT doc_id, t AS term, tf, df
        |FROM tf JOIN df USING (t)
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, t ASC) = 1
        |ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.docKeyword(Tables.documents(s, dir), Stopwords)
          .orderBy(col("doc_id"))
    },

    QuerySpec.sql("t_hashed_tf_neardup",
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hxm AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |        FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hxm GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |hv AS (SELECT doc_id, cnt, md5(t) AS h FROM tc),
        |feats AS (SELECT doc_id,
        |            (16 * (CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END)
        |                + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END)) % 64 AS idx,
        |            CAST(sum((CASE WHEN substr(h,3,1) >= '8' THEN 1 ELSE -1 END) * cnt) AS BIGINT) AS v
        |          FROM hv GROUP BY 1, 2),
        |norms AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM feats GROUP BY 1),
        |dots AS (SELECT cand.doc_a, cand.doc_b, CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |         FROM cand JOIN feats a ON a.doc_id = cand.doc_a
        |                   JOIN feats b ON b.doc_id = cand.doc_b AND a.idx = b.idx
        |         GROUP BY 1, 2),
        |cosv AS (SELECT doc_a, doc_b,
        |           dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) AS cos
        |         FROM dots JOIN norms na ON na.doc_id = doc_a JOIN norms nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, round(cos, 4) AS cosine FROM cosv
        |WHERE cos >= 0.95 ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.hashedTfCosinePairs(Tables.documents(s, dir), threshold = 0.95)
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // Edit distance (levenshtein is the near-dup verifier for SHORT
    // strings — titles/ids — where shingles are too coarse).
    QuerySpec.sql("t_levenshtein_sources",
      """WITH s AS (SELECT DISTINCT source FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       levenshtein(a.source, b.source) AS dist
        |FROM s a JOIN s b ON a.source < b.source
        |WHERE levenshtein(a.source, b.source) <= 1
        |ORDER BY src_a, src_b""") {
      (s, dir) => {
        val srcs = Tables.documents(s, dir).select(col("source")).distinct()
        srcs.as("a").join(srcs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            levenshtein(col("a.source"), col("b.source")).cast("long").as("dist"))
          .filter(col("dist") <= 1)
          .orderBy(col("src_a"), col("src_b"))
      }
    },

    // Token budgeting: whitespace vs BPE-ish regex tokenization + a
    // punctuation ratio (Unicode category classes only — Java ≡ RE2).
    QuerySpec.sql("t_tokenize_bpe",
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe_tokens,
        |       round(length(regexp_replace(text, '[^\p{P}]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio
        |FROM documents ORDER BY doc_id""") {
      (s, dir) =>
        Tables.documents(s, dir).select(
            col("doc_id"),
            size(TextStats.tokens(col("text"))).cast("long").as("n_ws_tokens"),
            size(TextStats.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
            round(length(regexp_replace(col("text"), "[^\\p{P}]", ""))
              * lit(1.0) / length(col("text")), 4).as("punct_ratio"))
          .orderBy(col("doc_id"))
    },

    // Real distributed BPE-merge training: 8 rounds of corpus-wide
    // pair-count → merge-the-argmax over the distinct-word frequency
    // table; output = learned merge table + re-tokenized symbol counts in
    // one relation. The oracle unrolls the identical rounds (bpeRoundSql)
    // with the same double-space replace, so merges, tie-breaks, and the
    // final vocabulary hash-match exactly.
    QuerySpec.sql("t_bpe_merges",
      s"""WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |           WHERE length(w) > 0 GROUP BY w),
        |w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS str, cnt FROM words),
        |${(1 to 8).map(n => bpeRoundSql(n)).mkString(",\n")}
        |${(1 to 8).map(n =>
          s"SELECT 'merge' AS kind, CAST($n AS BIGINT) AS merge_rank, l AS l_sym, r AS r_sym, l || r AS token, c AS freq FROM t$n")
          .mkString("", "\nUNION ALL\n", "\nUNION ALL\n")}
        |SELECT 'token' AS kind, CAST(0 AS BIGINT) AS merge_rank, '' AS l_sym, '' AS r_sym, token, CAST(sum(cnt) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(trim(str), '  ')) AS token, cnt FROM w8)
        |GROUP BY token
        |ORDER BY kind, merge_rank, token""".stripMargin) {
      (s, dir) =>
        TextStats.bpeTrain(Tables.documents(s, dir), numMerges = 8)
          .orderBy(col("kind"), col("merge_rank"), col("token"))
    },

    // Train-then-encode: tokenize every document with the merges the corpus
    // itself learns (8 rounds, as t_bpe_merges). The oracle re-learns the
    // identical merge sequence (same unrolled rounds, now carrying the
    // original word) and reproduces the per-doc token/char totals exactly —
    // all-integer arithmetic until the final rounded compression ratio.
    QuerySpec.sql("t_bpe_encode",
      s"""WITH dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |        WHERE length(w) > 0 GROUP BY doc_id, w),
        |words AS (SELECT w, CAST(sum(k) AS BIGINT) AS cnt FROM dw GROUP BY w),
        |w0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS str, cnt FROM words),
        |${(1 to 8).map(n => bpeRoundSql(n, "w, ")).mkString(",\n")},
        |enc AS (SELECT w, CAST(len(string_split(trim(str), '  ')) AS BIGINT) AS wtoks FROM w8)
        |SELECT doc_id, CAST(sum(k * wtoks) AS BIGINT) AS n_tokens,
        |       CAST(sum(k * length(w)) AS BIGINT) AS n_chars,
        |       round(sum(k * length(w)) * 1.0 / sum(k * wtoks), 4) AS chars_per_token
        |FROM dw JOIN enc USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        TextStats.bpeEncode(Tables.documents(s, dir), numMerges = 8)
          .orderBy(col("doc_id"))
    },

    // Frozen-merges BPE encode (the deployment shape, completing the
    // Against family across both tokenizer families): merges train on
    // the doc_id % 7 != 0 slice, then apply in rank order to the
    // held-out slice — merges simply fail to fire on unseen material
    // (no fallback case, unlike unigram). The oracle trains via the
    // shared bpeRoundSql rounds and replays the 8 ordered applications
    // over the distinct held-out words.
    QuerySpec.sql("t_bpe_encode_against",
      s"""WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |              WHERE doc_id % 7 <> 0)
        |        WHERE length(w) > 0 GROUP BY w),
        |w0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS str, cnt FROM words),
        |${(1 to 8).map(n => bpeRoundSql(n)).mkString(",\n")},
        |hdw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |              WHERE doc_id % 7 = 0)
        |        WHERE length(w) > 0 GROUP BY doc_id, w),
        |h0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS str
        |       FROM (SELECT DISTINCT w FROM hdw)),
        |${(1 to 8).map(n =>
          s"h$n AS (SELECT w, replace(str, ' ' || l || '  ' || r || ' ', ' ' || l || r || ' ') AS str " +
          s"FROM h${n - 1} CROSS JOIN t$n)").mkString(",\n")},
        |enc AS (SELECT w, CAST(len(string_split(trim(str), '  ')) AS BIGINT) AS wtoks FROM h8)
        |SELECT doc_id, CAST(sum(k * wtoks) AS BIGINT) AS n_tokens,
        |       CAST(sum(k * length(w)) AS BIGINT) AS n_chars,
        |       round(sum(k * length(w)) * 1.0 / sum(k * wtoks), 4) AS chars_per_token
        |FROM hdw JOIN enc USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextStats.bpeEncodeAgainst(
            docs.filter(col("doc_id") % 7 === 0),
            TextStats.bpeMergesModel(docs.filter(col("doc_id") % 7 =!= 0),
              numMerges = 8),
            numMerges = 8)
          .orderBy(col("doc_id"))
      }
    },

    // Unigram-LM (SentencePiece-style) tokenizer training: seed substring
    // vocab -> two hard-EM prune rounds (Viterbi segmentation by fewest
    // pieces / largest count sum / smallest piece sequence, then
    // chars-always top-K prune) -> final segmentation with integer-ppm
    // probabilities. The oracle unrolls the identical seed, all three
    // 10-sweep Viterbi DPs, and both prune rounds as generated CTEs, so
    // segmentations, tie-breaks, usage counts and ppm values hash-match.
    QuerySpec.sql("t_unigram_lm_vocab",
      s"""WITH uwords AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) BETWEEN 1 AND $UniMaxWordLen GROUP BY w),
        |ucand AS MATERIALIZED (SELECT substr(ww.w, t.st + 1, p.plen) AS piece, CAST(sum(ww.cnt) AS BIGINT) AS cnt
        |  FROM uwords ww
        |  CROSS JOIN range(0, $UniMaxWordLen) t(st)
        |  CROSS JOIN range(1, ${UniMaxPieceLen + 1}) p(plen)
        |  WHERE t.st + p.plen <= length(ww.w) GROUP BY 1),
        |uvocab0 AS MATERIALIZED (
        |  SELECT piece, cnt FROM ucand WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (
        |    SELECT piece, cnt FROM ucand WHERE length(piece) >= 2 AND cnt >= 2
        |    ORDER BY cnt DESC, piece ASC LIMIT 150)),
        |${uniEStepSql(1)},
        |${uniPruneSql(1, 60)},
        |${uniEStepSql(2)},
        |${uniPruneSql(2, 40)},
        |${uniEStepSql(3)}
        |SELECT v.piece, CAST(length(v.piece) AS BIGINT) AS piece_len,
        |       coalesce(u.u, CAST(0 AS BIGINT)) AS freq,
        |       CAST(coalesce(u.u, 0) * 1000000 // t.tot AS BIGINT) AS prob_ppm
        |FROM uvocab2 v
        |LEFT JOIN uu3 u ON u.piece = v.piece
        |CROSS JOIN (SELECT CAST(sum(u) AS BIGINT) AS tot FROM uu3) t
        |ORDER BY v.piece""".stripMargin) {
      (s, dir) =>
        TextStats.unigramLmVocab(Tables.documents(s, dir),
            keepSchedule = Seq(60, 40), maxPieceLen = UniMaxPieceLen,
            maxWordLen = UniMaxWordLen, minSeedFreq = 2L, seedMax = 150)
          .orderBy(col("piece"))
    },

    // Unigram-LM train-then-encode (the bpeEncode symmetry for the
    // unigram family): every document's Viterbi token count under the
    // corpus-trained vocabulary, with the char-fallback rule for words
    // beyond the trainer's maxWordLen contract. The oracle re-trains the
    // identical vocabulary (same generated CTE chain as
    // t_unigram_lm_vocab) and reads per-word token counts off the final
    // DP's complete-word states.
    QuerySpec.sql("t_unigram_encode",
      s"""WITH udw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY doc_id, w),
        |uwords AS MATERIALIZED (SELECT w, CAST(sum(k) AS BIGINT) AS cnt
        |  FROM udw WHERE length(w) <= $UniMaxWordLen GROUP BY w),
        |ucand AS MATERIALIZED (SELECT substr(ww.w, t.st + 1, p.plen) AS piece, CAST(sum(ww.cnt) AS BIGINT) AS cnt
        |  FROM uwords ww
        |  CROSS JOIN range(0, $UniMaxWordLen) t(st)
        |  CROSS JOIN range(1, ${UniMaxPieceLen + 1}) p(plen)
        |  WHERE t.st + p.plen <= length(ww.w) GROUP BY 1),
        |uvocab0 AS MATERIALIZED (
        |  SELECT piece, cnt FROM ucand WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (
        |    SELECT piece, cnt FROM ucand WHERE length(piece) >= 2 AND cnt >= 2
        |    ORDER BY cnt DESC, piece ASC LIMIT 150)),
        |${uniEStepSql(1)},
        |${uniPruneSql(1, 60)},
        |${uniEStepSql(2)},
        |${uniPruneSql(2, 40)},
        |${uniEStepSql(3)},
        |uwt AS (SELECT s.w, s.np AS wtoks FROM us3_$UniMaxWordLen s
        |        WHERE s.pos = length(s.w))
        |SELECT d.doc_id,
        |       CAST(sum(d.k * coalesce(t.wtoks, length(d.w))) AS BIGINT) AS n_tokens,
        |       CAST(sum(d.k * length(d.w)) AS BIGINT) AS n_chars,
        |       round(sum(d.k * length(d.w)) * 1.0
        |             / sum(d.k * coalesce(t.wtoks, length(d.w))), 4) AS chars_per_token
        |FROM udw d LEFT JOIN uwt t ON t.w = d.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) {
      (s, dir) =>
        TextStats.unigramEncode(Tables.documents(s, dir),
            keepSchedule = Seq(60, 40), maxPieceLen = UniMaxPieceLen,
            maxWordLen = UniMaxWordLen, minSeedFreq = 2L, seedMax = 150)
          .orderBy(col("doc_id"))
    },

    // Frozen-tokenizer encode (the deployment shape, mirroring
    // t_ppx_against): the unigram-LM vocabulary trains on the doc_id % 7
    // != 0 slice, the held-out slice encodes against the frozen (piece,
    // cnt) model. Held-out words the model cannot segment (unseen
    // character) or beyond maxWordLen fall back to one token per
    // character. The oracle replays the train chain on the seed slice,
    // then one Viterbi E-step over the DISTINCT held-out words.
    QuerySpec.sql("t_unigram_encode_against",
      s"""WITH uwords AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |        WHERE doc_id % 7 <> 0)
        |  WHERE length(w) BETWEEN 1 AND $UniMaxWordLen GROUP BY w),
        |ucand AS MATERIALIZED (SELECT substr(ww.w, t.st + 1, p.plen) AS piece, CAST(sum(ww.cnt) AS BIGINT) AS cnt
        |  FROM uwords ww
        |  CROSS JOIN range(0, $UniMaxWordLen) t(st)
        |  CROSS JOIN range(1, ${UniMaxPieceLen + 1}) p(plen)
        |  WHERE t.st + p.plen <= length(ww.w) GROUP BY 1),
        |uvocab0 AS MATERIALIZED (
        |  SELECT piece, cnt FROM ucand WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (
        |    SELECT piece, cnt FROM ucand WHERE length(piece) >= 2 AND cnt >= 2
        |    ORDER BY cnt DESC, piece ASC LIMIT 150)),
        |${uniEStepSql(1)},
        |${uniPruneSql(1, 60)},
        |${uniEStepSql(2)},
        |${uniPruneSql(2, 40)},
        |hdw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |        WHERE doc_id % 7 = 0)
        |  WHERE length(w) > 0 GROUP BY doc_id, w),
        |hwords AS MATERIALIZED (SELECT w, CAST(sum(k) AS BIGINT) AS cnt
        |  FROM hdw WHERE length(w) <= $UniMaxWordLen GROUP BY w),
        |${uniEStepSql(3, "hwords")},
        |hwt AS (SELECT s.w, s.np AS wtoks FROM us3_$UniMaxWordLen s
        |        WHERE s.pos = length(s.w))
        |SELECT d.doc_id,
        |       CAST(sum(d.k * coalesce(t.wtoks, length(d.w))) AS BIGINT) AS n_tokens,
        |       CAST(sum(d.k * length(d.w)) AS BIGINT) AS n_chars,
        |       round(sum(d.k * length(d.w)) * 1.0
        |             / sum(d.k * coalesce(t.wtoks, length(d.w))), 4) AS chars_per_token
        |FROM hdw d LEFT JOIN hwt t ON t.w = d.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextStats.unigramEncodeAgainst(
            docs.filter(col("doc_id") % 7 === 0),
            TextStats.unigramVocabModel(docs.filter(col("doc_id") % 7 =!= 0),
              keepSchedule = Seq(60, 40), maxPieceLen = UniMaxPieceLen,
              maxWordLen = UniMaxWordLen, minSeedFreq = 2L, seedMax = 150),
            maxPieceLen = UniMaxPieceLen, maxWordLen = UniMaxWordLen)
          .orderBy(col("doc_id"))
      }
    },

    // Windowed co-occurrence (word2vec/GloVe preprocessing): unordered token
    // pairs within 3 positions, counted corpus-wide, top 50. The pair
    // relation is generated inside one nested array transform per doc —
    // never a positions self-join.
    QuerySpec.sql("t_window_cooc",
      """WITH sp AS (SELECT string_split(text, ' ') AS t FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM sp),
        |pairs AS (SELECT least(t[i], t[i+d]) AS w1, greatest(t[i], t[i+d]) AS w2
        |          FROM pos CROSS JOIN (VALUES (1), (2), (3)) o(d)
        |          WHERE i + d <= len(t))
        |SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2
        |ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 50""") {
      (s, dir) =>
        TextStats.windowCooc(Tables.documents(s, dir), window = 3, topK = 50)
          .orderBy(col("cnt").desc, col("w1"), col("w2"))
    },

    // Collocation mining: co-occurrence pairs ranked by association lift
    // (rank-equivalent to PMI) as a ×10⁶ integer quotient under INTEGER
    // division — zero floats, so no ln()-ulp divergence can move a rank
    // boundary between engines.
    QuerySpec.sql("t_collocations",
      """WITH sp AS (SELECT string_split(text, ' ') AS t FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM sp),
        |pairs AS (SELECT least(t[i], t[i+d]) AS w1, greatest(t[i], t[i+d]) AS w2
        |          FROM pos CROSS JOIN (VALUES (1), (2), (3)) o(d)
        |          WHERE i + d <= len(t)),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents))
        |SELECT w1, w2, cnt,
        |       (cnt * n_total * CAST(1000000 AS BIGINT)) // (u1.c * u2.c) AS lift_scaled
        |FROM pc JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2 CROSS JOIN tot
        |WHERE cnt >= 5
        |ORDER BY lift_scaled DESC, cnt DESC, w1 ASC, w2 ASC LIMIT 50""") {
      (s, dir) =>
        TextStats.collocations(Tables.documents(s, dir),
            window = 3, minCount = 5, topK = 50)
          .orderBy(col("lift_scaled").desc, col("cnt").desc, col("w1"), col("w2"))
    },

    // AND-semantics ranked retrieval over the distributed inverted index:
    // per fixture query, the top-10 docs containing EVERY term, ranked by
    // total term frequency (ties -> doc_id). All-integer scoring.
    QuerySpec.sql("t_boolean_retrieval",
      s"""WITH q(query_id, terms) AS (VALUES $retrievalSqlValues),
        |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
        |qs AS (SELECT query_id, len(terms) AS n_terms FROM q),
        |tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |       GROUP BY 1, 2),
        |cand AS (SELECT query_id, doc_id, count(*) AS matched, CAST(sum(tf) AS BIGINT) AS tf_total
        |         FROM tf JOIN qt USING (term) GROUP BY 1, 2),
        |sel AS (SELECT query_id, doc_id, tf_total
        |        FROM cand JOIN qs USING (query_id) WHERE matched = n_terms)
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY tf_total DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, tf_total
        |FROM sel
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY tf_total DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        Retrieval.booleanRetrieval(Tables.documents(s, dir),
            RetrievalQueries, k = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    // BM25-shaped OR-semantics ranked retrieval: saturated-tf × capped
    // rational idf, all-integer (see Retrieval.bm25Retrieval scaladoc for
    // the exact k1=1.2/b=0.75 cross-multiplication). Same fixture as the
    // boolean query, so the two ranking semantics are directly comparable.
    QuerySpec.sql("t_bm25_retrieval",
      s"""WITH q(query_id, terms) AS (VALUES $retrievalSqlValues),
        |$Bm25ScoreCtes
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, score
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        Retrieval.bm25Retrieval(Tables.documents(s, dir),
            RetrievalQueries, k = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    // Hybrid two-stage retrieval (the RAG/curation production shape):
    // BM25 top-25 lexical recall per query, re-ranked by exact quantized
    // cosine against the anchor embedding (query_id doubles as anchor
    // vec_id), anchor self-hit excluded, ties toward the smaller doc id.
    // The oracle replays the full BM25 chain to the recall cut, then the
    // same quantize/dot/cosine chain the ANN oracles use.
    QuerySpec.sql("t_hybrid_retrieval",
      s"""WITH q(query_id, terms) AS (VALUES $retrievalSqlValues),
        |$Bm25ScoreCtes,
        |cand AS (SELECT query_id, doc_id, score AS bm25_score
        |         FROM sc
        |         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 25),
        |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |      FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |rr AS (SELECT c.query_id, c.doc_id, c.bm25_score,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |       FROM cand c JOIN m a ON a.vec_id = c.query_id
        |                   JOIN m b ON b.vec_id = c.doc_id
        |       WHERE c.doc_id <> c.query_id)
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, bm25_score, round(cos, 4) AS cosine
        |FROM rr
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        Retrieval.hybridRetrieval(Tables.documents(s, dir),
            Tables.embeddings(s, dir), RetrievalQueries, recallN = 25, k = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    // Reciprocal-rank fusion of the BM25 top-25 and the dense cosine
    // top-25 (anchor = query_id, self excluded from both lists): score is
    // the exact-integer Sum(1000000 // (60 + rank)) over the lists that
    // surfaced the doc, ties toward the smaller doc id. rank_lex /
    // rank_dense are 0 when a list missed the doc. The oracle replays
    // both retrievers (shared Bm25ScoreCtes + the ANN cosine chain) and
    // the full-outer fusion.
    QuerySpec.sql("t_rrf_fusion",
      s"""WITH q(query_id, terms) AS (VALUES $retrievalSqlValues),
        |$Bm25ScoreCtes,
        |lex AS (SELECT query_id, doc_id, rank_lex FROM (
        |          SELECT query_id, doc_id,
        |                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_lex
        |          FROM sc)
        |        WHERE rank_lex <= 25 AND doc_id <> query_id),
        |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |      FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |aq AS (SELECT vec_id AS query_id, qv AS aqv, n2 AS an2 FROM m
        |       WHERE vec_id IN (${RetrievalQueries.map(_._1).mkString(", ")})),
        |den AS (SELECT query_id, vec_id AS doc_id,
        |          CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank_dense
        |        FROM (SELECT query_id, vec_id,
        |                list_sum(list_transform(range(1, 65), i -> aqv[i] * qv[i]))::DOUBLE
        |                  / (sqrt(an2::DOUBLE) * sqrt(n2::DOUBLE)) AS cos
        |              FROM m CROSS JOIN aq WHERE vec_id != query_id)
        |        QUALIFY rank_dense <= 25),
        |fu AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |              coalesce(l.doc_id, d.doc_id) AS doc_id,
        |              CAST(coalesce(1000000 // (60 + l.rank_lex), 0) +
        |                   coalesce(1000000 // (60 + d.rank_dense), 0) AS BIGINT) AS rrf_ppm,
        |              coalesce(l.rank_lex, 0) AS rank_lex,
        |              coalesce(d.rank_dense, 0) AS rank_dense
        |       FROM lex l FULL OUTER JOIN den d
        |         ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, rrf_ppm, rank_lex, rank_dense
        |FROM fu
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        Retrieval.rrfFusion(Tables.documents(s, dir),
            Tables.embeddings(s, dir), RetrievalQueries,
            k = 10, lexDepth = 25, denseDepth = 25)
          .orderBy(col("query_id"), col("rank"))
    },

    // RRF with the IVF dense list — the 100 TB configuration of the
    // pluggable dense seam, oracle-checked end-to-end: the dense ranks
    // come from ivfTopK over TRAINED centroids (two unrolled Lloyd
    // rounds, the ann_ivf_trained convention) instead of the brute scan,
    // fused with the BM25 lexical list by the same exact-integer ppm
    // formula. IVF recall gaps (an anchor's true neighbor outside its
    // probed cells) simply shorten the dense list — the fusion is
    // agnostic, and the oracle replays training, cells, probes and
    // ranks bit-for-bit.
    QuerySpec.sql("t_rrf_fusion_ivf",
      s"""WITH q(query_id, terms) AS (VALUES $retrievalSqlValues),
        |$Bm25ScoreCtes,
        |lex AS (SELECT query_id, doc_id, rank_lex FROM (
        |          SELECT query_id, doc_id,
        |                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_lex
        |          FROM sc)
        |        WHERE rank_lex <= 25 AND doc_id <> query_id),
        |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |      FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c0 AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |${kmeansRoundSql(1, "c0")},
        |${kmeansRoundSql(2, "c1")},
        |dd AS (SELECT m.vec_id, c.cid,
        |         m.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.cq[i])) AS d2
        |       FROM m CROSS JOIN c2 c),
        |cells AS (SELECT vec_id, cid FROM dd
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM dd
        |       WHERE vec_id IN (${RetrievalQueries.map(_._1).mkString(", ")})
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |dcand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |          WHERE cells.vec_id != query_id),
        |dsc AS (SELECT query_id, dcand.vec_id AS vec_id,
        |          list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |            / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |        FROM dcand JOIN m a ON a.vec_id = dcand.query_id JOIN m b ON b.vec_id = dcand.vec_id),
        |den AS (SELECT query_id, vec_id AS doc_id,
        |          CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank_dense
        |        FROM dsc
        |        QUALIFY rank_dense <= 25),
        |fu AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |              coalesce(l.doc_id, d.doc_id) AS doc_id,
        |              CAST(coalesce(1000000 // (60 + l.rank_lex), 0) +
        |                   coalesce(1000000 // (60 + d.rank_dense), 0) AS BIGINT) AS rrf_ppm,
        |              coalesce(l.rank_lex, 0) AS rank_lex,
        |              coalesce(d.rank_dense, 0) AS rank_dense
        |       FROM lex l FULL OUTER JOIN den d
        |         ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, rrf_ppm, rank_lex, rank_dense
        |FROM fu
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val anchorIds = RetrievalQueries.map(_._1)
        val cents = EmbeddingSim.kmeansCentroids(vecs, k = 8, iters = 2)
        val dense = EmbeddingSim.ivfTopK(vecs,
          col("vec_id").isin(anchorIds: _*), k = 25, nprobe = 2,
          centroids = Some(cents))
        Retrieval.rrfFusion(Tables.documents(s, dir), vecs,
            RetrievalQueries, k = 10, lexDepth = 25, denseDepth = 25,
            denseList = Some(dense))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // Exact-phrase top-k: consecutive token-run matches counted per doc by
    // one nested array expression (no positional-index self-join); the
    // vocabulary-miss phrase (query 4) must contribute zero rows.
    QuerySpec.sql("t_phrase_search",
      s"""WITH q(query_id, terms) AS (VALUES $phraseSqlValues),
        |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT query_id, doc_id,
        |        CAST(len(list_filter(range(1, len(t) - len(terms) + 2),
        |          i -> len(list_filter(range(1, len(terms) + 1),
        |                 j -> t[i+j-1] = terms[j])) = len(terms))) AS BIGINT) AS n_matches
        |      FROM sp CROSS JOIN q
        |      WHERE len(t) >= len(terms))
        |SELECT query_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY n_matches DESC, doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, n_matches
        |FROM (SELECT * FROM m WHERE n_matches > 0)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY n_matches DESC, doc_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        Retrieval.phraseSearch(Tables.documents(s, dir), PhraseQueries, k = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    // Top-p vocabulary coverage (tokenizer sizing): words whose exclusive
    // frequency-order prefix is below 95% of token mass — integer
    // cross-multiplied keep rule; the oracle's single global window is the
    // plan the two-level bucketed operator avoids.
    QuerySpec.sql("t_vocab_coverage",
      """WITH uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |             FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |             GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |r AS (SELECT w, c,
        |        CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS BIGINT) AS rank,
        |        CAST(sum(c) OVER (ORDER BY c DESC, w ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM uni)
        |SELECT rank, w, c, cum FROM r CROSS JOIN tot
        |WHERE (cum - c) * 100 < 95 * n ORDER BY rank""") {
      (s, dir) =>
        TextStats.vocabCoverage(Tables.documents(s, dir), coveragePct = 95)
          .orderBy(col("rank"))
    },

    // Curriculum interleave: the deterministic mixing SCHEDULE — integer
    // "virtual time" priorities such that every prefix of the
    // (priority, stratum, stratum_pos) order approximates the target
    // mixture; within-stratum order is the epoch-seeded md5 shuffle.
    QuerySpec.sql("sample_curriculum",
      s"""WITH w(stratum, wppm) AS (VALUES ${
            Packing.weightPpm(MixWeights.toMap).toSeq.sorted
              .map { case (s, p) => s"('$s', CAST($p AS BIGINT))" }.mkString(", ")}),
        |k AS (SELECT doc_id, lang AS stratum, md5('e1:' || CAST(doc_id AS VARCHAR)) AS ek
        |      FROM documents WHERE lang IN (${MixWeights.map(m => s"'${m._1}'").mkString(", ")})),
        |r AS (SELECT doc_id, stratum,
        |        CAST(row_number() OVER (PARTITION BY stratum ORDER BY ek ASC, doc_id ASC) - 1 AS BIGINT) AS stratum_pos
        |      FROM k)
        |SELECT doc_id, stratum, stratum_pos,
        |       (stratum_pos * CAST(1000000 AS BIGINT)) // wppm AS priority
        |FROM r JOIN w USING (stratum)
        |ORDER BY priority, stratum, stratum_pos""".stripMargin) {
      (s, dir) =>
        Packing.curriculumInterleave(Tables.documents(s, dir),
            MixWeights.toMap, epoch = 1)
          .orderBy(col("priority"), col("stratum"), col("stratum_pos"))
    },

    // Bigram novelty: share of each doc's bigram mass that is corpus-common
    // (cf >= 5) — the boilerplate/novelty signal without log-probs.
    QuerySpec.sql("t_bigram_novelty",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |          i -> t[i] || ' ' || t[i+1])) AS bg FROM sp),
        |db AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS k FROM bgs GROUP BY 1, 2),
        |cf AS (SELECT bg, CAST(sum(k) AS BIGINT) AS cf FROM db GROUP BY 1)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN cf >= 5 THEN k ELSE 0 END) AS BIGINT) AS n_common,
        |       round(sum(CASE WHEN cf >= 5 THEN k ELSE 0 END) * 1.0 / sum(k), 4) AS common_ratio
        |FROM db JOIN cf USING (bg) GROUP BY doc_id ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.bigramNovelty(Tables.documents(s, dir), minCf = 5)
          .orderBy(col("doc_id"))
    },

    // Interpolated bigram LM perplexity filter (KenLM-lite, the CCNet
    // quality signal): unigram+bigram counts trained on the corpus, each
    // doc scored by its average third-bit-quantized surprisal under
    // p(w2|w1) = 3/4·C12/C1 + 1/4·C2/T. Every value is integer (ppm
    // probabilities, floor-log2 via length(bin(x))-1, centibit average via
    // integer div) so the oracle reproduces the scores bit-for-bit —
    // see TextStats.ngramLmPerplexity's scaladoc for the quantization.
    QuerySpec.sql("t_ngram_lm_ppx",
      s"""WITH $PpxScoreCtes
        |SELECT d.doc_id,
        |       coalesce(sc.n_trans, 0) AS n_trans,
        |       coalesce(sc.sum_q3, 0) AS sum_q3,
        |       coalesce((100 * sc.sum_q3) // (3 * sc.n_trans), 0) AS avg_bits_x100,
        |       CAST(CASE WHEN coalesce((100 * sc.sum_q3) // (3 * sc.n_trans), 0) <= 1200
        |                 THEN 1 ELSE 0 END AS BIGINT) AS ppx_keep
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
        |ORDER BY d.doc_id""") {
      (s, dir) =>
        TextStats.ngramLmPerplexity(Tables.documents(s, dir),
            maxAvgBitsX100 = 1200)
          .orderBy(col("doc_id"))
    },

    // Frozen-model perplexity scoring (the CCNet deployment shape): the
    // bigram LM trains on the doc_id % 7 != 0 slice, the held-out slice
    // scores against it. Model-unseen transitions drop from the inner
    // join; the centibit average runs over scored transitions with both
    // n_trans and n_scored emitted (OOV gating composes separately).
    QuerySpec.sql("t_ppx_against",
      s"""WITH $PpxAgainstModelCtes
        |$PpxAgainstScoreCtes
        |SELECT h.doc_id,
        |       CAST(greatest(len(h.t) - 1, 0) AS BIGINT) AS n_trans,
        |       coalesce(sc.n_scored, 0) AS n_scored,
        |       coalesce(sc.sum_q3, 0) AS sum_q3,
        |       coalesce((100 * sc.sum_q3) // (3 * sc.n_scored), 0) AS avg_bits_x100,
        |       CAST(CASE WHEN coalesce((100 * sc.sum_q3) // (3 * sc.n_scored), 0) <= 1200
        |                 THEN 1 ELSE 0 END AS BIGINT) AS ppx_keep
        |FROM hd h LEFT JOIN sc ON sc.doc_id = h.doc_id
        |ORDER BY h.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextStats.ngramPerplexityAgainst(
            docs.filter(col("doc_id") % 7 === 0),
            TextStats.ngramLmModel(docs.filter(col("doc_id") % 7 =!= 0)),
            maxAvgBitsX100 = 1200)
          .orderBy(col("doc_id"))
      }
    },

    // Gopher rule battery: the published heuristic gates as per-doc flags,
    // every ratio test integer cross-multiplied (no float divisions).
    QuerySpec.sql("t_gopher_rules",
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(sp) AS BIGINT) AS n_words,
        |        CAST(len(list_filter(sp, w -> list_contains(['the', 'a'], w))) AS BIGINT) AS stop_hits,
        |        CAST(len(sp) >= 40 AND len(sp) <= 100000 AS BIGINT) AS ok_words,
        |        CAST(length(replace(text, ' ', '')) >= 3 * len(sp)
        |             AND length(replace(text, ' ', '')) <= 10 * len(sp) AS BIGINT) AS ok_word_len,
        |        CAST(10 * len(list_filter(sp, w -> starts_with(w, '#') OR contains(w, '...'))) <= len(sp) AS BIGINT) AS ok_symbols,
        |        CAST(5 * len(list_filter(sp, w -> regexp_matches(w, '\p{L}'))) > 4 * len(sp) AS BIGINT) AS ok_alpha,
        |        CAST(len(list_filter(sp, w -> list_contains(['the', 'a'], w))) >= 2 AS BIGINT) AS ok_stopwords
        |      FROM s)
        |SELECT doc_id, n_words, stop_hits, ok_words, ok_word_len, ok_symbols,
        |       ok_alpha, ok_stopwords,
        |       ok_words * ok_word_len * ok_symbols * ok_alpha * ok_stopwords AS is_keep
        |FROM f ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.gopherRules(Tables.documents(s, dir), Stopwords, minWords = 40)
          .orderBy(col("doc_id"))
    },

    // Composed curation pipeline (production shape, the text-side analogue
    // of dd_pipeline_canonical): Gopher gates -> exact dedup survivors ->
    // sequence packing, end-to-end in one oracle-pinned query.
    QuerySpec.sql("t_pipeline_curation",
      s"""WITH sp AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |keepf AS (SELECT doc_id, text FROM sp
        |          WHERE len(t) >= 40 AND len(t) <= 100000
        |            AND length(replace(text, ' ', '')) >= 3 * len(t)
        |            AND length(replace(text, ' ', '')) <= 10 * len(t)
        |            AND 10 * len(list_filter(t, w -> starts_with(w, '#') OR contains(w, '...'))) <= len(t)
        |            AND 5 * len(list_filter(t, w -> regexp_matches(w, '\\p{L}'))) > 4 * len(t)
        |            AND len(list_filter(t, w -> list_contains(['the', 'a'], w))) >= 2),
        |canon AS (SELECT min(doc_id) AS doc_id FROM (
        |            SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        |            FROM keepf)
        |          GROUP BY fp),
        |surv AS (SELECT k.doc_id, k.text FROM keepf k JOIN canon USING (doc_id)),
        |s AS (SELECT doc_id,
        |        ${hexKeySql("doc_id::VARCHAR")} AS hk,
        |        len(string_split(text, ' ')) AS n_tokens
        |      FROM surv),
        |c AS (SELECT doc_id, n_tokens,
        |        coalesce(sum(n_tokens) OVER (ORDER BY hk ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |      FROM s)
        |SELECT doc_id, n_tokens,
        |       CAST(floor(strt / 4096) AS BIGINT) AS pack_id,
        |       CAST(strt % 4096 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val kept = docs.join(
          TextStats.gopherRules(docs, Stopwords, minWords = 40)
            .filter(col("is_keep") === 1L).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val surv = kept.join(
          Dedup.exact(kept).select(col("canonical_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        Packing.packSequences(surv, budget = 4096L).orderBy(col("doc_id"))
      }
    },

    // The FROZEN-MODELS curation pipeline — the round's deployment-shape
    // composition contract: every model artifact (bigram LM, perceptron
    // weights) trains ONCE on the doc_id % 7 != 0 seed slice, and the
    // held-out slice flows through gopher gates -> frozen-ppx gate ->
    // frozen-quality gate -> exact dedup among the gate-passers, emitting
    // the per-doc verdict vector. At 100 TB the seed is the small trusted
    // slice; nothing corpus-shaped is trained. Oracle composes the
    // factored chains (qualityTrainHeadCtes/QualityTrainRoundsCtes,
    // PpxAgainstModelCtes/PpxAgainstScoreCtes) plus the t_pipeline_curation
    // gopher/fingerprint text.
    QuerySpec.sql("t_pipeline_frozen",
      s"""WITH ${qualityTrainHeadCtes(" WHERE doc_id % 7 <> 0")}
        |$QualityTrainRoundsCtes,
        |$PpxAgainstModelCtes
        |$PpxAgainstScoreCtes,
        |hsp AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
        |        WHERE doc_id % 7 = 0),
        |gop AS (SELECT doc_id, CAST(CASE WHEN
        |          len(t) >= 40 AND len(t) <= 100000
        |          AND length(replace(text, ' ', '')) >= 3 * len(t)
        |          AND length(replace(text, ' ', '')) <= 10 * len(t)
        |          AND 10 * len(list_filter(t, w -> starts_with(w, '#') OR contains(w, '...'))) <= len(t)
        |          AND 5 * len(list_filter(t, w -> regexp_matches(w, '\\p{L}'))) > 4 * len(t)
        |          AND len(list_filter(t, w -> list_contains(['the', 'a'], w))) >= 2
        |        THEN 1 ELSE 0 END AS BIGINT) AS gopher_keep FROM hsp),
        |ppxk AS (SELECT h.doc_id,
        |           CAST(CASE WHEN coalesce((100 * s2.sum_q3) // (3 * s2.n_scored), 0) <= 1200
        |                THEN 1 ELSE 0 END AS BIGINT) AS ppx_keep
        |         FROM hsp h LEFT JOIN sc s2 ON s2.doc_id = h.doc_id),
        |htok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |         WHERE doc_id % 7 = 0),
        |htf AS (SELECT doc_id, t, count(*) AS cnt FROM htok GROUP BY 1, 2),
        |hfx AS (SELECT doc_id,
        |         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx,
        |         CASE WHEN substr(md5(t), 3, 1) >= '8' THEN cnt ELSE -cnt END AS sv
        |       FROM htf),
        |hfeat AS (SELECT doc_id, idx, CAST(sum(sv) AS BIGINT) AS v FROM hfx GROUP BY 1, 2),
        |qm AS (SELECT f.doc_id, CAST(sum(f.v * w.w) AS BIGINT) AS margin
        |       FROM hfeat f JOIN w3 w USING (idx) GROUP BY 1),
        |qk AS (SELECT h.doc_id,
        |         CAST(CASE WHEN coalesce(qm.margin, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS q_keep
        |       FROM hsp h LEFT JOIN qm ON qm.doc_id = h.doc_id),
        |gated AS (SELECT h.doc_id, h.text, g.gopher_keep, p.ppx_keep, q.q_keep,
        |            CAST(CASE WHEN g.gopher_keep = 1 AND p.ppx_keep = 1 AND q.q_keep = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS gates_pass
        |          FROM hsp h JOIN gop g USING (doc_id) JOIN ppxk p USING (doc_id)
        |               JOIN qk q USING (doc_id)),
        |canon AS (SELECT min(doc_id) AS doc_id FROM (
        |            SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        |            FROM gated WHERE gates_pass = 1)
        |          GROUP BY fp)
        |SELECT g.doc_id, g.gopher_keep, g.ppx_keep, g.q_keep, g.gates_pass,
        |       CAST(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_canonical,
        |       CAST(CASE WHEN g.gates_pass = 1 AND c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS final_keep
        |FROM gated g LEFT JOIN canon c ON c.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val seed = docs.filter(col("doc_id") % 7 =!= 0)
        val held = docs.filter(col("doc_id") % 7 === 0)
        val t = TextStats.tokens(col("text"))
        val labeled = seed.select(col("doc_id"), col("text"),
          when(size(array_distinct(t)) * 2 >= size(t), 1L)
            .otherwise(-1L).as("y"))
        val gop = TextStats.gopherRules(held, Stopwords, minWords = 40)
          .select(col("doc_id"), col("is_keep").as("gopher_keep"))
        val ppx = TextStats.ngramPerplexityAgainst(held,
            TextStats.ngramLmModel(seed), maxAvgBitsX100 = 1200)
          .select(col("doc_id"), col("ppx_keep"))
        val qual = TextStats.qualityScoreAgainst(held,
            TextStats.qualityModelTrain(labeled, dims = 64, iters = 3))
          .select(col("doc_id"), col("q_keep"))
        val gated = held.select(col("doc_id"), col("text"))
          .join(gop, "doc_id").join(ppx, "doc_id").join(qual, "doc_id")
          .withColumn("gates_pass",
            (col("gopher_keep") === 1L && col("ppx_keep") === 1L &&
              col("q_keep") === 1L).cast("long"))
        val canon = Dedup.exact(gated.filter(col("gates_pass") === 1L))
          .select(col("canonical_id").as("doc_id"), lit(1L).as("__c"))
        gated.join(canon, Seq("doc_id"), "left")
          .select(col("doc_id"), col("gopher_keep"), col("ppx_keep"),
            col("q_keep"), col("gates_pass"),
            coalesce(col("__c"), lit(0L)).as("is_canonical"),
            (col("gates_pass") === 1L && coalesce(col("__c"), lit(0L)) === 1L)
              .cast("long").as("final_keep"))
          .orderBy(col("doc_id"))
      }
    },

    // Token-budget apportionment (Hamilton / largest-remainder): split a
    // 10k-token training budget across languages by integer mixture
    // weights — base floor quotas, leftover units to the largest
    // remainders (ties by lang), implied ppm sampling rate, underfilled
    // flag. The 'ja' weight has no corpus rows: its mass stays
    // UNALLOCATED (W is the full weight-map total) rather than silently
    // inflating the present strata.
    QuerySpec.sql("sample_budget_alloc",
      """WITH wv(lang, weight) AS (VALUES ('en', 4), ('de', 2), ('es', 2),
        |                                 ('fr', 1), ('zh', 1), ('ja', 2)),
        |av AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |       FROM documents GROUP BY 1),
        |b AS (SELECT av.lang, CAST(w.weight AS BIGINT) AS weight, av.avail_tokens,
        |        CAST((10000 * w.weight) // 12 AS BIGINT) AS base,
        |        CAST((10000 * w.weight) % 12 AS BIGINT) AS rem
        |      FROM av JOIN wv w USING (lang)),
        |e AS (SELECT CAST(sum(rem) // 12 AS BIGINT) AS extras FROM b),
        |al AS (SELECT b.lang, b.weight, b.avail_tokens,
        |         CAST(b.base + CASE WHEN
        |             row_number() OVER (ORDER BY b.rem DESC, b.lang ASC) <= e.extras
        |           THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        |       FROM b CROSS JOIN e)
        |SELECT lang, weight, avail_tokens, alloc_tokens,
        |       least(1000000, (alloc_tokens * 1000000) // avail_tokens) AS sample_rate_ppm,
        |       CAST(CASE WHEN alloc_tokens > avail_tokens THEN 1 ELSE 0 END AS BIGINT) AS underfilled
        |FROM al ORDER BY lang""".stripMargin) {
      (s, dir) =>
        Sampling.budgetAllocation(Tables.documents(s, dir),
            Map("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L,
              "zh" -> 1L, "ja" -> 2L),
            totalBudget = 10000L, stratumCol = "lang")
          .orderBy(col("lang"))
    },

    // Corpus datasheet: per-(lang, source) composition with integer ppm
    // token share — the dataset-card aggregation.
    QuerySpec.sql("t_corpus_datasheet",
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |             CAST(sum(length(replace(text, ' ', ''))) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM g)
        |SELECT lang, source, n_docs, n_tokens, n_chars,
        |       (n_tokens * CAST(1000000 AS BIGINT)) // t AS share_ppm
        |FROM g CROSS JOIN tot ORDER BY lang, source""") {
      (s, dir) =>
        TextStats.corpusDatasheet(Tables.documents(s, dir))
          .orderBy(col("lang"), col("source"))
    },

    // Rabin-Karp rolling fingerprint (integer-exact fold, both engines).
    QuerySpec.sql("t_rolling_fingerprint",
      """SELECT doc_id,
        |       list_reduce(list_concat([CAST(0 AS BIGINT)],
        |         list_transform(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ''),
        |           c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
        |FROM documents ORDER BY doc_id""") {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextStats.rollingFingerprint(col("text")).as("rhash"))
          .orderBy(col("doc_id"))
    },

    // Benchmark-contamination sweep: docs sharing ≥ 3 distinct trigram
    // shingles with a (broadcast) benchmark set — here every 97th doc
    // stands in for the eval suite. The decontamination step of a training
    // pipeline; scale notes in Curation.contamination's scaladoc.
    QuerySpec.sql("t_contamination",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, bench_id, count(*) AS n_shared
        |FROM sh JOIN bench ON sh.s = bench.s AND sh.doc_id != bench_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3
        |ORDER BY doc_id, bench_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.contamination(docs, docs.filter(col("doc_id") % 97 === 0),
            minShared = 3, excludeSameId = true)
          .orderBy(col("doc_id"), col("bench_id"))
      }
    },

    // Doc-level contamination verdict: the same sweep aggregated to one row
    // per contaminated document (n benchmark hits + strongest overlap) —
    // the relation a decontamination anti-join consumes, bounded at |docs|
    // where the pair listing is output-bound (2.6 M pairs at the 100×
    // probe). Scale rationale in Curation.contaminatedDocs' scaladoc.
    QuerySpec.sql("t_contaminated_docs",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
        |pairs AS (SELECT sh.doc_id, bench_id, count(*) AS n_shared
        |          FROM sh JOIN bench ON sh.s = bench.s AND sh.doc_id != bench_id
        |          GROUP BY 1, 2
        |          HAVING count(*) >= 3)
        |SELECT doc_id, count(*) AS n_bench_hits, max(n_shared) AS max_shared
        |FROM pairs GROUP BY doc_id ORDER BY doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.contaminatedDocs(docs, docs.filter(col("doc_id") % 97 === 0),
            minShared = 3, excludeSameId = true)
          .orderBy(col("doc_id"))
      }
    },

    // Model-based quality scoring: linear classifier over hashing-trick
    // features, fixture weights hash-seeded so DuckDB rebuilds the exact
    // weight vector; integer raw score, one IEEE division for the
    // length-normalized quality. strpos('0123456789abcdef', c) - 1 is the
    // hex-nibble value; - 8 folds the additional - 7 weight shift.
    QuerySpec.sql("t_quality_model",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |fx AS (SELECT doc_id,
        |         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx,
        |         CASE WHEN substr(md5(t), 3, 1) >= '8' THEN cnt ELSE -cnt END AS sv
        |       FROM tf),
        |feat AS (SELECT doc_id, idx, CAST(sum(sv) AS BIGINT) AS v FROM fx GROUP BY 1, 2),
        |w AS (SELECT i AS idx,
        |        CAST(strpos('0123456789abcdef', substr(md5('qw:' || i), 1, 1)) - 8 AS BIGINT) AS wt
        |      FROM range(64) r(i)),
        |raw AS (SELECT doc_id, CAST(sum(v * wt) AS BIGINT) AS raw_score
        |        FROM feat JOIN w USING (idx) GROUP BY 1),
        |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT n.doc_id, coalesce(raw_score, 0) AS raw_score, n_tokens,
        |       round(coalesce(raw_score, 0) * 1.0 / n_tokens, 4) AS quality,
        |       CAST(coalesce(raw_score, 0) >= 0 AS BIGINT) AS is_keep
        |FROM n LEFT JOIN raw ON raw.doc_id = n.doc_id
        |ORDER BY n.doc_id""") {
      (s, dir) =>
        TextStats.qualityModelScore(Tables.documents(s, dir))
          .orderBy(col("doc_id"))
    },

    // Distributed training of the quality model's weights: 3 unrolled
    // batch-perceptron rounds over the hashed-TF features, labels derived
    // deterministically from lexical diversity (2·distinct ≥ total → +1).
    // All-integer updates (unit learning rate), so the oracle replays the
    // identical rounds as CTEs — the kmeans/BPE convention.
    QuerySpec.sql("t_quality_model_trained",
      s"""WITH ${qualityTrainHeadCtes()}
        |$QualityTrainRoundsCtes
        |SELECT idx, CAST(w AS BIGINT) AS weight FROM w3 ORDER BY idx""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = TextStats.tokens(col("text"))
        val labeled = docs.select(col("doc_id"), col("text"),
          when(size(array_distinct(t)) * 2 >= size(t), 1L)
            .otherwise(-1L).as("y"))
        TextStats.qualityModelTrain(labeled, dims = 64, iters = 3)
          .orderBy(col("idx"))
      }
    },

    // Frozen-weights quality scoring (the classifier member of the
    // deployment-shape family): the perceptron trains on the doc_id % 7
    // != 0 slice, the held-out slice scores against the frozen dims-row
    // weight relation — one feature explode + broadcast weight join +
    // per-doc margin, no training lineage. Featureless docs keep margin
    // 0 and are rejected (the conservative default).
    QuerySpec.sql("t_quality_score_against",
      s"""WITH ${qualityTrainHeadCtes(" WHERE doc_id % 7 <> 0")}
        |$QualityTrainRoundsCtes,
        |htok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |         WHERE doc_id % 7 = 0),
        |htf AS (SELECT doc_id, t, count(*) AS cnt FROM htok GROUP BY 1, 2),
        |hfx AS (SELECT doc_id,
        |         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64 AS idx,
        |         CASE WHEN substr(md5(t), 3, 1) >= '8' THEN cnt ELSE -cnt END AS sv
        |       FROM htf),
        |hfeat AS (SELECT doc_id, idx, CAST(sum(sv) AS BIGINT) AS v FROM hfx GROUP BY 1, 2),
        |sc AS (SELECT f.doc_id, CAST(sum(f.v * w.w) AS BIGINT) AS margin
        |       FROM hfeat f JOIN w3 w USING (idx) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(sc.margin, 0) AS BIGINT) AS margin,
        |       CAST(CASE WHEN coalesce(sc.margin, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS q_keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
        |LEFT JOIN sc ON sc.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = TextStats.tokens(col("text"))
        val labeled = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"),
            when(size(array_distinct(t)) * 2 >= size(t), 1L)
              .otherwise(-1L).as("y"))
        TextStats.qualityScoreAgainst(docs.filter(col("doc_id") % 7 === 0),
            TextStats.qualityModelTrain(labeled, dims = 64, iters = 3))
          .orderBy(col("doc_id"))
      }
    },

    // The removal step over the same verdicts: corpus anti-join flagged
    // docs — the full detect-then-drop decontamination pipeline in one
    // query, the way dd_pipeline_canonical pins dedup end-to-end.
    QuerySpec.sql("t_decontaminated",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
        |pairs AS (SELECT sh.doc_id, bench_id, count(*) AS n_shared
        |          FROM sh JOIN bench ON sh.s = bench.s AND sh.doc_id != bench_id
        |          GROUP BY 1, 2
        |          HAVING count(*) >= 3)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_id = d.doc_id)
        |ORDER BY d.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.decontaminated(docs, docs.filter(col("doc_id") % 97 === 0),
            minShared = 3, excludeSameId = true)
          .orderBy(col("doc_id"))
      }
    },

    // Gopher-style repetition ratios: duplicated-2gram/3gram share per doc,
    // the boilerplate signal a quality filter thresholds on.
    QuerySpec.sql("t_repetition",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
        |        list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
        |      FROM sp)
        |SELECT doc_id,
        |       CASE WHEN len(g2) > 0 THEN round((len(g2) - len(list_distinct(g2))) * 1.0 / len(g2), 4) ELSE 0.0 END AS dup_2gram_ratio,
        |       CASE WHEN len(g3) > 0 THEN round((len(g3) - len(list_distinct(g3))) * 1.0 / len(g3), 4) ELSE 0.0 END AS dup_3gram_ratio
        |FROM g ORDER BY doc_id""") {
      (s, dir) =>
        Curation.repetitionStats(Tables.documents(s, dir))
          .orderBy(col("doc_id"))
    },

    // PII redaction over corpus ∪ PII fixture rows: staged email → IP →
    // phone masking with per-class audit counts (each counted on the text
    // as that pass sees it — see Curation.redactPii). The oracle runs the
    // identical RE2-safe patterns through DuckDB's regexp engine; the
    // fixture includes the false-positive shapes the tightened PhoneRe
    // must NOT mask (years, numeric tables, prices).
    QuerySpec.sql("t_pii_redact",
      s"""WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES ${PiiFixture.map { case (i, t) =>
            s"($i, '$t')" }.mkString(", ")}) fx(doc_id, text)),
        |r1 AS (SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '${Curation.EmailRe}')) AS BIGINT) AS n_emails,
        |         regexp_replace(text, '${Curation.EmailRe}', '<EMAIL>', 'g') AS t1 FROM input),
        |r2 AS (SELECT doc_id, n_emails,
        |         CAST(len(regexp_extract_all(t1, '${Curation.Ipv4Re}')) AS BIGINT) AS n_ips,
        |         regexp_replace(t1, '${Curation.Ipv4Re}', '<IP>', 'g') AS t2 FROM r1)
        |SELECT doc_id, n_emails, n_ips,
        |       CAST(len(regexp_extract_all(t2, '${Curation.PhoneRe}')) AS BIGINT) AS n_phones,
        |       regexp_replace(t2, '${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted
        |FROM r2 ORDER BY doc_id""") {
      (s, dir) => {
        import s.implicits._
        Curation.redactPii(
            Tables.documents(s, dir).select(col("doc_id"), col("text"))
              .unionByName(PiiFixture.toDF("doc_id", "text")))
          .orderBy(col("doc_id"))
      }
    },

    // HTML/markup boilerplate stripping — the crawl-corpus stage BEFORE
    // any text operator (C4/CCNet step 1): script/style/comment blocks out
    // with their bodies, remaining tags to spaces, the six dominant
    // entities decoded (after tag strip, &amp; last), whitespace
    // collapsed, and the integer cross-multiplied text-density gate. The
    // oracle runs the identical RE2-safe chain in DuckDB over the same
    // constructed pages ∪ fixture rows (Curation.stripMarkup's scaladoc
    // documents each edge the fixture pins).
    QuerySpec.sql("t_strip_markup",
      s"""WITH input AS (
        |  SELECT doc_id, $HtmlWrapSql AS html FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES ${HtmlFixture.map { case (i, t) =>
            s"($i, '$t')" }.mkString(", ")}) fx(doc_id, html)),
        |s1 AS (SELECT doc_id, html,
        |         regexp_replace(regexp_replace(html,
        |           '${Curation.HtmlBlockRe}', ' ', 'g'),
        |           '${Curation.HtmlTagRe}', ' ', 'g') AS t
        |       FROM input),
        |s2 AS (SELECT doc_id, html,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |       FROM s1),
        |s3 AS (SELECT doc_id,
        |         trim(regexp_replace(t, '[ \\t\\r\\n]+', ' ', 'g')) AS text,
        |         CAST(length(html) AS BIGINT) AS raw_len
        |       FROM s2)
        |SELECT doc_id, text, raw_len,
        |       CAST(length(text) AS BIGINT) AS text_len,
        |       CAST(CASE WHEN length(text) * 100 >= raw_len * 20
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_content
        |FROM s3 ORDER BY doc_id""") {
      (s, dir) => {
        import s.implicits._
        val pages = Tables.documents(s, dir)
          .select(col("doc_id"), expr(HtmlWrapSql).as("html"))
          .unionByName(HtmlFixture.toDF("doc_id", "html"))
        Curation.stripMarkup(pages).orderBy(col("doc_id"))
      }
    },

    // ---- Deduplication --------------------------------------------------

    QuerySpec.sql("dd_exact",
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""") {
      (s, dir) =>
        Dedup.exact(Tables.documents(s, dir)).orderBy(col("fp"))
    },

    // URL-canonicalization dedup — the curation pass BEFORE content dedup:
    // crawl variants of one page (scheme/www/case, tracking params,
    // fragments, trailing slashes) collapse onto one canonical key; group
    // by it, keep the min doc_id. The oracle applies the identical RE2-safe
    // regex chain (Curation.canonicalUrl) in DuckDB; the fixture pins the
    // preserved-by-design negatives (ports, punycode, path case).
    QuerySpec.sql("dd_url_canonical",
      s"""WITH u AS (
        |  SELECT doc_id,
        |         'https://WWW.' || source || '.Example.COM/' || lang || '/doc/' ||
        |         CAST(doc_id // 3 AS VARCHAR) || $UrlVariantCaseSql AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES ${UrlFixture.map { case (i, u) =>
            s"($i, '$u')" }.mkString(", ")}) fx(doc_id, url)),
        |ns AS (SELECT doc_id,
        |         regexp_replace(regexp_replace(trim(url), '#.*', ''),
        |                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS s
        |       FROM u),
        |c AS (SELECT doc_id,
        |        regexp_replace(lower(regexp_extract(s, '^[^/?]*')), '^www\\.', '') ||
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(s, '^[^/?]*', ''),
        |          '&(${Curation.TrackingParamRe})=[^&]*', '', 'g'),
        |          '\\?(${Curation.TrackingParamRe})=[^&]*&', '?'),
        |          '\\?(${Curation.TrackingParamRe})=[^&]*$$', ''),
        |          '/+$$', ''),
        |          '\\?$$', '') AS canonical_url
        |      FROM ns)
        |SELECT canonical_url, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM c GROUP BY 1 ORDER BY canonical_url""") {
      (s, dir) => {
        import s.implicits._
        val constructed = Tables.documents(s, dir).select(col("doc_id"),
          expr("""'https://WWW.' || source || '.Example.COM/' || lang ||
                 |'/doc/' || CAST(doc_id div 3 AS STRING) ||
                 |CASE CAST(doc_id % 5 AS INT)
                 |  WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
                 |  WHEN 1 THEN '/?ref=home'
                 |  WHEN 2 THEN '#section-2'
                 |  WHEN 3 THEN '?id=' || CAST(doc_id div 3 AS STRING) || '&utm_medium=email'
                 |  ELSE '///' END""".stripMargin).as("url"))
        constructed.unionByName(UrlFixture.toDF("doc_id", "url"))
          .select(col("doc_id"),
            Curation.canonicalUrl(col("url")).as("canonical_url"))
          .groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("n_copies"))
          .orderBy(col("canonical_url"))
      }
    },

    QuerySpec.sql("dd_ngram_jaccard",
      """WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.5
        |ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "lang", 0.5)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // The df-capped configuration of the same operator — the 100-TB shape:
    // shingles shared by more than maxDf docs in a block are boilerplate and
    // are dropped BEFORE the self-join (each shingle with posting-list
    // length L costs L²/2 candidate rows, so hot shingles make the
    // intermediate quadratic in duplicate-group size; the uncapped form
    // exhausted local disk at the 100× probe). Jaccard is computed over the
    // filtered universe — deterministic, so the oracle mirrors the same
    // HAVING filter.
    QuerySpec.sql("dd_ngram_jaccard_capped",
      """WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |keep AS (SELECT lang, s FROM sh GROUP BY lang, s HAVING count(*) <= 20),
        |shf AS (SELECT sh.doc_id, sh.lang, sh.s FROM sh JOIN keep USING (lang, s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |          FROM shf a JOIN shf b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.5
        |ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "lang", 0.5, maxDf = 20)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // Asymmetric containment over the same shingle universe: a short doc
    // quoted inside a long one is invisible to symmetric Jaccard
    // (|A|/|B| ≈ 0) but scores containment ≈ 1. Both directions emitted;
    // a pair survives when either clears the threshold.
    QuerySpec.sql("dd_containment",
      """WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(n_inter * 1.0 / sa.n, 4) AS c_a_in_b,
        |       round(n_inter * 1.0 / sb.n, 4) AS c_b_in_a
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(n_inter * 1.0 / sa.n, 4) >= 0.6 OR round(n_inter * 1.0 / sb.n, 4) >= 0.6
        |ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.containmentPairs(Tables.documents(s, dir), "lang", 0.6)
          .orderBy(col("doc_a"), col("doc_b"))
    },

    QuerySpec.sql("dd_minhash_lsh", MinhashLshSql) {
      (s, dir) =>
        Dedup.minhashLshPairs(Tables.documents(s, dir), numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // Auto-tuned MinHash banding: the (numHashes, bands) configuration is
    // DERIVED from a target Jaccard via the S-curve inflection
    // (Dedup.autoBands) instead of hand-picked — target 1/√2 at a
    // 16-hash budget resolves to (16, 4), so the oracle is dd_minhash_lsh's
    // chain verbatim and any drift in the solver breaks the hash-match.
    // The curve itself (b = t^−r, clamping, recall floor) is unit-pinned
    // in DedupSpec against hand-computed points.
    QuerySpec.sql("dd_minhash_auto", MinhashLshSql) {
      (s, dir) => {
        val plan = Dedup.autoBands(targetJaccard = 1.0 / math.sqrt(2.0),
          maxHashes = 16)
        Dedup.minhashLshPairs(Tables.documents(s, dir),
            numHashes = plan.numHashes, bands = plan.bands, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"),
            round(col("est_jaccard"), 4).as("est_jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      }
    },

    // Incremental dedup — the everyday 100-TB operation: fingerprint the
    // corpus ONCE, then screen each arriving batch against the stored
    // signatures without touching corpus text again. Batch = doc_id % 10
    // = 0 here; the corpus side enters as minhashSignature output only.
    // Oracle: identical signature/band CTEs over all docs, band-joined
    // batch-side × corpus-side.
    QuerySpec.sql("dd_incremental_minhash",
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_corpus
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
        |         WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0)
        |SELECT doc_new, doc_corpus,
        |       round(len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0, 4) AS est_jaccard
        |FROM cand JOIN sig sa ON sa.doc_id = doc_new JOIN sig sb ON sb.doc_id = doc_corpus
        |WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5
        |ORDER BY doc_new, doc_corpus""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpusSig = Dedup.minhashSignature(
          docs.filter(col("doc_id") % 10 =!= 0), numHashes = 16)
        Dedup.minhashLshPairsAgainst(
            docs.filter(col("doc_id") % 10 === 0), corpusSig,
            numHashes = 16, bands = 4, threshold = 0.5)
          .select(col("doc_new"), col("doc_corpus"),
            round(col("est_jaccard"), 4).as("est_jaccard"))
          .orderBy(col("doc_new"), col("doc_corpus"))
      }
    },

    // Incremental EXACT screen: the batch (doc_id % 10 = 0) against the
    // store the exact-dedup stage maintains — one fixed-width row per
    // distinct corpus content. Completes the incremental family next to
    // dd_incremental_minhash (same batch split).
    QuerySpec.sql("dd_incremental_exact", IncrementalExactSql) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.exactAgainst(
            docs.filter(col("doc_id") % 10 === 0),
            Dedup.exact(docs.filter(col("doc_id") % 10 =!= 0)))
          .orderBy(col("doc_id"))
      }
    },

    // The Bloom-prescreened form of the same screen — same batch split,
    // SAME oracle SQL (exactness by construction: the Bloom only errs
    // toward might-contain and the confirm join settles those rows, so
    // the output equals the precise screen bit-for-bit while
    // definitely-new rows never touch the store join). The sketch is
    // Spark's own BloomFilterAggregate, exposed through
    // functions.BloomSketch; see Dedup.exactAgainstBloom's scaladoc for
    // the 100 TB economics (store collapses to one 8 MiB broadcast row).
    QuerySpec.sql("dd_incremental_bloom", IncrementalExactSql) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.exactAgainstBloom(
            docs.filter(col("doc_id") % 10 === 0),
            Dedup.exact(docs.filter(col("doc_id") % 10 =!= 0)))
          .orderBy(col("doc_id"))
      }
    },

    QuerySpec.sql("dd_simhash",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt, md5(t) || md5('#' || t) AS h FROM tok GROUP BY 1, 2),
        |bits AS (SELECT doc_id, i,
        |           CASE WHEN sum(CASE WHEN substr(h, CAST(i+1 AS INT), 1) >= '8' THEN cnt ELSE -cnt END) > 0
        |                THEN '1' ELSE '0' END AS bit
        |         FROM tc CROSS JOIN range(64) r(i) GROUP BY 1, 2)
        |SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash
        |FROM bits GROUP BY 1 ORDER BY doc_id""") {
      (s, dir) =>
        Dedup.simhash(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QuerySpec.sql("dd_simhash_pairs",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt, md5(t) || md5('#' || t) AS h FROM tok GROUP BY 1, 2),
        |bits AS (SELECT doc_id, i,
        |           CASE WHEN sum(CASE WHEN substr(h, CAST(i+1 AS INT), 1) >= '8' THEN cnt ELSE -cnt END) > 0
        |                THEN '1' ELSE '0' END AS bit
        |         FROM tc CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |s AS (SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash FROM bits GROUP BY 1),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
        |         FROM s a JOIN s b ON a.doc_id < b.doc_id AND (
        |              substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
        |           OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16)
        |           OR substr(a.simhash, 33, 16) = substr(b.simhash, 33, 16)
        |           OR substr(a.simhash, 49, 16) = substr(b.simhash, 49, 16)))
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b,
        |         len(list_filter(range(64), i -> substr(sa, CAST(i+1 AS INT), 1) != substr(sb, CAST(i+1 AS INT), 1))) AS hamming
        |  FROM cand)
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3)
          .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // Perceptual IMAGE near-dup pairs: each doc's text bytes become an
    // 8-wide gray grid encoded through the REAL PNG writer, decoded back
    // through ImageIO, dHashed (9×8 nearest-neighbor grid, row-gradient
    // bits — brightness- and rescale-invariant), then banded + hamming-
    // verified through the same machinery as text simhash. The oracle
    // recomputes the full chain from the text bytes: pixel (x,y) = byte
    // y·8+x (0-padded), gray = byte (R=G=B), integer sample positions
    // c·8//9 and r·h//8, four 16-bit chunks summed bitwise — so a wrong
    // raster order, padding, sampling floor, or chunk packing anywhere in
    // encode→decode→hash breaks the hash-compare.
    QuerySpec.sql("dd_image_phash",
      """WITH b AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
        |                  octet_length(CAST(text AS BLOB)) AS n FROM documents),
        |px AS (SELECT doc_id,
        |         list((strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
        |              + strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1
        |              ORDER BY i) AS u
        |       FROM (SELECT doc_id, hx, unnest(range(1, n + 1)) AS i FROM b)
        |       GROUP BY doc_id),
        |g AS (SELECT b.doc_id, coalesce(px.u, CAST([] AS BIGINT[])) AS u,
        |             greatest((b.n + 7) // 8, 1) AS h
        |      FROM b LEFT JOIN px USING (doc_id)),
        |bits AS (SELECT doc_id, i,
        |           CASE WHEN coalesce(u[CAST(((i // 8) * h // 8) * 8 + (((i % 8) + 1) * 8 // 9) + 1 AS INT)], 0)
        |                   > coalesce(u[CAST(((i // 8) * h // 8) * 8 + ((i % 8) * 8 // 9) + 1 AS INT)], 0)
        |                THEN 1 ELSE 0 END AS bit
        |         FROM g CROSS JOIN range(64) r(i)),
        |sig AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c0,
        |          CAST(sum(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c1,
        |          CAST(sum(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c2,
        |          CAST(sum(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c3
        |        FROM bits GROUP BY doc_id)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |       CAST(bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
        |          + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) AS BIGINT) AS hamming
        |FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND
        |     (x.c0 = y.c0 OR x.c1 = y.c1 OR x.c2 = y.c2 OR x.c3 = y.c3)
        |WHERE bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
        |    + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) <= 3
        |ORDER BY doc_a, doc_b""") {
      (s, dir) => {
        val sig = Multimodal.imageDHash(
          Multimodal.asImageGridPng(Tables.documents(s, dir))).toDF()
        Dedup.imageHashPairs(sig, maxHamming = 3, bands = 4)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      }
    },

    // Perceptual AUDIO near-dup pairs — the third dedup modality: text
    // bytes become 16-bit PCM through the REAL wav encoder, decoded back
    // through the RIFF walker, fingerprinted by the 65-window energy-
    // envelope gradient (sample j of n lands in window (65·j) div n; bit =
    // next window louder), then banded + hamming-verified through the same
    // machinery as image dHash and text simhash. The oracle recomputes
    // encode→decode→envelope→bands from the raw bytes — |(u−128)·256| per
    // sample, identical integer window assignment and chunk packing.
    QuerySpec.sql("dd_audio_fingerprint",
      """WITH b AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
        |                  octet_length(CAST(text AS BLOB)) AS n FROM documents),
        |s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS j, n,
        |        abs(((strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
        |             + strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1 - 128) * 256) AS a
        |      FROM (SELECT doc_id, hx, n, unnest(range(1, n + 1)) AS i FROM b)),
        |v AS (SELECT doc_id, (65 * j) // n AS w, CAST(sum(a) AS BIGINT) AS v
        |      FROM s GROUP BY 1, 2),
        |g AS (SELECT b.doc_id, r.i AS w, coalesce(v.v, 0) AS v
        |      FROM b CROSS JOIN range(65) r(i)
        |      LEFT JOIN v ON v.doc_id = b.doc_id AND v.w = r.i),
        |bits AS (SELECT a.doc_id, a.w AS i,
        |           CASE WHEN nx.v > a.v THEN 1 ELSE 0 END AS bit
        |         FROM g a JOIN g nx ON nx.doc_id = a.doc_id AND nx.w = a.w + 1
        |         WHERE a.w < 64),
        |sig AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c0,
        |          CAST(sum(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c1,
        |          CAST(sum(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c2,
        |          CAST(sum(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS c3
        |        FROM bits GROUP BY doc_id)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |       CAST(bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
        |          + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) AS BIGINT) AS hamming
        |FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND
        |     (x.c0 = y.c0 OR x.c1 = y.c1 OR x.c2 = y.c2 OR x.c3 = y.c3)
        |WHERE bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
        |    + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) <= 16
        |ORDER BY doc_a, doc_b""") {
      (s, dir) => {
        val sig = Multimodal.audioDHash(
          Multimodal.asAudio(Tables.documents(s, dir))).toDF()
        // maxHamming 16, not 3: the acoustic channel is noisier than the
        // pixel grid (one inserted byte shifts EVERY downstream envelope
        // window), so near-dup recordings sit at larger distances. Above
        // bands−1 the pigeonhole recall guarantee lapses — candidates are
        // band-limited — but BOTH engines apply the identical banding, so
        // the listing is still deterministic and hash-compared exactly.
        Dedup.imageHashPairs(sig, maxHamming = 16, bands = 4)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      }
    },

    // Cluster resolution: simhash near-dup pairs → transitive closure →
    // one canonical doc per cluster, a keep/drop flag for every corpus row.
    // The oracle rebuilds the same pairs, then closes them with a recursive
    // CTE; the Spark side runs iterative min-label propagation (converges in
    // O(cluster diameter) rounds — see Dedup.connectedComponents scaladoc).
    QuerySpec.sql("dd_cluster_canonical",
      """WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt, md5(t) || md5('#' || t) AS h FROM tok GROUP BY 1, 2),
        |bits AS (SELECT doc_id, i,
        |           CASE WHEN sum(CASE WHEN substr(h, CAST(i+1 AS INT), 1) >= '8' THEN cnt ELSE -cnt END) > 0
        |                THEN '1' ELSE '0' END AS bit
        |         FROM tc CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |s AS (SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash FROM bits GROUP BY 1),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
        |         FROM s a JOIN s b ON a.doc_id < b.doc_id AND (
        |              substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
        |           OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16)
        |           OR substr(a.simhash, 33, 16) = substr(b.simhash, 33, 16)
        |           OR substr(a.simhash, 49, 16) = substr(b.simhash, 49, 16))),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |            SELECT doc_a, doc_b,
        |                   len(list_filter(range(64), i -> substr(sa, CAST(i+1 AS INT), 1) != substr(sb, CAST(i+1 AS INT), 1))) AS hamming
        |            FROM cand)
        |          WHERE hamming <= 3),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)
        |SELECT d.doc_id,
        |       coalesce(c.component, d.doc_id) AS canonical_id,
        |       CAST(d.doc_id = coalesce(c.component, d.doc_id) AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // simhashComponents, not simhashPairs: identical-signature groups
        // are star-contracted (a replica group of m feeds m−1 edges, not
        // m²/2 pairs) AND the CC fixpoint runs on rep-rep edges only, with
        // members assigned through the star map in one join — provably the
        // same labels (Dedup.contractedComponents' scaladoc). The oracle's
        // recursive CTE still closes the ALL-pairs graph — matching output
        // is exactly the invariance claim under test.
        Dedup.canonicalizeFrom(docs, Dedup.simhashComponents(docs, maxHamming = 3))
          .orderBy(col("doc_id"))
      }
    },

    // The minhash composition of the same pipeline: LSH near-dup edges
    // (signature-contracted spanning feed) → transitive closure → canonical
    // flag. Oracle = dd_minhash_lsh's pair CTEs closed by the same
    // recursive CTE as dd_cluster_canonical — again closing the all-pairs
    // graph while Spark feeds the contracted edges.
    QuerySpec.sql("dd_cluster_minhash", ClusterMinhashSql) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.canonicalizeFrom(docs,
            Dedup.minhashLshComponents(docs, threshold = 0.5))
          .orderBy(col("doc_id"))
      }
    },

    // Incremental cluster MAINTENANCE: the corpus's stored components are
    // updated with one batch's cross + internal pairs — no corpus
    // re-clustering. The oracle is deliberately the FULL-recompute closure
    // (identical SQL to dd_cluster_minhash), so the driver's hash-compare
    // IS the incremental ≡ recompute equivalence proof.
    QuerySpec.sql("dd_incremental_cc", ClusterMinhashSql) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") % 97 === 0)
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        val stored = Dedup.minhashLshComponents(corpus, threshold = 0.5)
        val cross = Dedup.minhashLshPairsAgainst(batch,
            Dedup.minhashSignature(corpus, 16), threshold = 0.5)
          .select(col("doc_new").as("doc_a"), col("doc_corpus").as("doc_b"))
        val internal = Dedup.minhashLshPairs(batch, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"))
        Dedup.canonicalizeFrom(docs,
            Dedup.incrementalComponents(stored, cross.union(internal)))
          .orderBy(col("doc_id"))
      }
    },

    // Cluster-size histogram over the same minhash closure — the dedup
    // diagnostic a practitioner reads before choosing thresholds: how many
    // clusters of each size, and how many docs they hold.
    QuerySpec.sql("dd_cluster_sizes",
      s"""WITH RECURSIVE $MinhashClosureCtes,
        |asg AS (SELECT coalesce(c.component, d.doc_id) AS canonical_id
        |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |cs AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM asg GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.clusterSizeHistogram(docs,
            Dedup.minhashLshComponents(docs, threshold = 0.5))
          .orderBy(col("cluster_size"))
      }
    },

    // Near-dup graph density diagnostic: per-node degree/wedge/triangle
    // counts over the verified minhash pairs (degree-ordered enumeration on
    // the Spark side — each triangle generated exactly once; the oracle
    // closes the id-ordered 3-way pair join, which enumerates the same
    // triangle set). triangles ~ wedges reads as clique-like clusters;
    // triangles << wedges flags hub chaining before closure over-merges.
    QuerySpec.sql("dd_graph_triangles",
      s"""WITH RECURSIVE $MinhashClosureCtes,
        |deg AS (SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree
        |        FROM e GROUP BY 1),
        |tri AS (SELECT a.doc_a AS x, a.doc_b AS y, b.doc_b AS z
        |        FROM pairs a
        |        JOIN pairs b ON b.doc_a = a.doc_a AND a.doc_b < b.doc_b
        |        JOIN pairs c ON c.doc_a = a.doc_b AND c.doc_b = b.doc_b),
        |tn AS (SELECT unnest([x, y, z]) AS doc_id FROM tri),
        |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS triangles
        |       FROM tn GROUP BY 1)
        |SELECT d.doc_id, d.degree,
        |       d.degree * (d.degree - 1) // 2 AS wedges,
        |       coalesce(tc.triangles, 0) AS triangles
        |FROM deg d LEFT JOIN tc USING (doc_id)
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        Dedup.triangleCounts(
            Dedup.minhashLshPairs(Tables.documents(s, dir), threshold = 0.5))
          .orderBy(col("doc_id"))
    },

    // Keep-POLICY dedup over the same minhash clusters: keep the LONGEST
    // member of each near-dup cluster (ties -> min id) instead of the
    // min-id canonical — the production keep rule. Same closure CTEs as
    // dd_cluster_minhash; the selection is a per-cluster argmax realized
    // as one map-side-combinable max_by aggregate, not a window.
    QuerySpec.sql("dd_keep_best",
      s"""WITH RECURSIVE sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |lab AS (SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS cluster
        |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |keep AS (SELECT cluster, doc_id AS keep_id FROM (
        |           SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
        |             ORDER BY n_chars DESC, doc_id ASC) AS rn FROM lab) WHERE rn = 1)
        |SELECT l.doc_id, k.keep_id,
        |       CAST(l.doc_id = k.keep_id AS BIGINT) AS is_kept
        |FROM lab l JOIN keep k ON l.cluster = k.cluster
        |ORDER BY l.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.keepBest(docs,
            Dedup.minhashLshComponents(docs, threshold = 0.5), "n_chars")
          .orderBy(col("doc_id"))
      }
    },

    // Centrality keep-policy over the same minhash near-dup graph: keep
    // each cluster's highest-DEGREE member (ties → min id) — the
    // no-quality-score canonical choice. Degree counts the VERIFIED pair
    // listing; the oracle reuses dd_keep_best's closure CTEs with degree
    // replacing n_chars as the argmax key.
    QuerySpec.sql("dd_keep_central",
      s"""WITH RECURSIVE sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |deg AS (SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY u),
        |lab AS (SELECT d.doc_id, coalesce(g.degree, 0) AS degree,
        |               coalesce(c.component, d.doc_id) AS cluster
        |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        |        LEFT JOIN deg g ON g.doc_id = d.doc_id),
        |keep AS (SELECT cluster, doc_id AS keep_id FROM (
        |           SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
        |             ORDER BY degree DESC, doc_id ASC) AS rn FROM lab) WHERE rn = 1)
        |SELECT l.doc_id, k.keep_id,
        |       CAST(l.doc_id = k.keep_id AS BIGINT) AS is_kept
        |FROM lab l JOIN keep k ON l.cluster = k.cluster
        |ORDER BY l.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // ONE signature build: the pair LISTING (needed for true degree
        // anyway) also feeds the closure — connectedComponents over the
        // all-pairs graph has the identical closure the contracted-feed
        // components would give, without a second minhash derivation.
        val pairs = Dedup.minhashLshPairs(docs, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"))
        Dedup.keepCentral(docs, pairs, Dedup.connectedComponents(pairs))
          .orderBy(col("doc_id"))
      }
    },

    // PageRank-lite centrality over the same minhash near-dup graph —
    // the graded refinement of raw degree (well-connected neighbors count
    // more). Three fixed rounds in integer ppm arithmetic; the oracle
    // unrolls the identical rounds (the kmeans/BPE convention), and an
    // edge-less doc is rank 150000 by the same formula on both sides.
    QuerySpec.sql("dd_pagerank",
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
        |r0 AS (SELECT u AS doc_id, CAST(1000000 AS BIGINT) AS r FROM deg),
        |c1 AS (SELECT r0.doc_id AS u, r0.r // d.d AS c FROM r0 JOIN deg d ON d.u = r0.doc_id),
        |r1 AS (SELECT e.v AS doc_id, 150000 + (850000 * CAST(sum(c.c) AS BIGINT)) // 1000000 AS r
        |       FROM e JOIN c1 c ON c.u = e.u GROUP BY e.v),
        |c2 AS (SELECT r1.doc_id AS u, r1.r // d.d AS c FROM r1 JOIN deg d ON d.u = r1.doc_id),
        |r2 AS (SELECT e.v AS doc_id, 150000 + (850000 * CAST(sum(c.c) AS BIGINT)) // 1000000 AS r
        |       FROM e JOIN c2 c ON c.u = e.u GROUP BY e.v),
        |c3 AS (SELECT r2.doc_id AS u, r2.r // d.d AS c FROM r2 JOIN deg d ON d.u = r2.doc_id),
        |r3 AS (SELECT e.v AS doc_id, 150000 + (850000 * CAST(sum(c.c) AS BIGINT)) // 1000000 AS r
        |       FROM e JOIN c3 c ON c.u = e.u GROUP BY e.v)
        |SELECT d.doc_id, coalesce(r3.r, 150000) AS rank_ppm
        |FROM documents d LEFT JOIN r3 ON r3.doc_id = d.doc_id
        |ORDER BY d.doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pr = Dedup.pageRank(
          Dedup.minhashLshPairs(docs, threshold = 0.5)
            .select(col("doc_a"), col("doc_b")), iters = 3)
        docs.select(col("doc_id")).join(pr, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rank_ppm"), lit(150000L)).as("rank_ppm"))
          .orderBy(col("doc_id"))
      }
    },

    // Sub-document exact dedup (the C4/CCNet "drop repeated lines across
    // the corpus" pass) at 10-token segment granularity: first global
    // occurrence of each distinct segment survives, docs reassemble in
    // order. The oracle's per-segment row_number window IS the
    // posting-sorting plan the operator's min-struct hash-aggregate
    // exists to avoid at scale.
    QuerySpec.sql("dd_segment_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |        CASE WHEN n <= 10 THEN 1 ELSE (n + 9) // 10 END AS nc FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM c),
        |seg AS (SELECT doc_id, chunk_id,
        |          array_to_string(list_slice(toks, chunk_id * 10 + 1,
        |                                     least(chunk_id * 10 + 10, n)), ' ') AS s
        |        FROM x),
        |k AS (SELECT doc_id, chunk_id, s,
        |        row_number() OVER (PARTITION BY s ORDER BY doc_id, chunk_id) AS rn
        |      FROM seg)
        |SELECT doc_id,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_segments,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_segments,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN s END, ' ' ORDER BY chunk_id), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""") {
      (s, dir) =>
        Dedup.segmentDedup(Tables.documents(s, dir), segTokens = 10)
          .orderBy(col("doc_id"))
    },

    // The within-doc scope of the same operator (Gopher-style in-document
    // repetition cleaning): a repeated segment keeps its first copy in ITS
    // doc; identical content elsewhere is untouched.
    QuerySpec.sql("dd_segment_dedup_doc",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |        CASE WHEN n <= 10 THEN 1 ELSE (n + 9) // 10 END AS nc FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM c),
        |seg AS (SELECT doc_id, chunk_id,
        |          array_to_string(list_slice(toks, chunk_id * 10 + 1,
        |                                     least(chunk_id * 10 + 10, n)), ' ') AS s
        |        FROM x),
        |k AS (SELECT doc_id, chunk_id, s,
        |        row_number() OVER (PARTITION BY doc_id, s ORDER BY chunk_id) AS rn
        |      FROM seg)
        |SELECT doc_id,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_segments,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_segments,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN s END, ' ' ORDER BY chunk_id), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""") {
      (s, dir) =>
        Dedup.segmentDedup(Tables.documents(s, dir), segTokens = 10,
            withinDoc = true)
          .orderBy(col("doc_id"))
    },

    // Duplicated-span coverage: per-doc fraction of 5-gram positions whose
    // content appears in >1 doc — the span-level dedup analysis signal
    // (counts exact integers; coverage one deterministic IEEE division).
    QuerySpec.sql("dd_span_coverage",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |p0 AS (SELECT doc_id, unnest(list_transform(range(1, n - 3),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS s
        |      FROM t),
        |p AS (SELECT doc_id,
        |        ${hexKeySql("s", len = 15)} AS sk
        |      FROM p0),
        |df AS (SELECT sk, count(DISTINCT doc_id) AS df FROM p GROUP BY sk),
        |agg AS (SELECT doc_id, count(*) AS n_spans,
        |          sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup_spans
        |        FROM p JOIN df USING (sk) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
        |       CASE WHEN coalesce(a.n_spans, 0) = 0 THEN 0.0
        |            ELSE CAST(a.dup_spans AS DOUBLE) / a.n_spans END AS coverage
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""") {
      (s, dir) =>
        Dedup.spanCoverage(Tables.documents(s, dir), n = 5)
          .orderBy(col("doc_id"))
    },

    // Winnowing (MOSS) candidate pairs: local min-hash selection per
    // sliding window with the >= w+k-1-token shared-run guarantee that
    // set-sampling schemes can't give — the partial-overlap detector.
    // Selection is one integer min per frame (hk*2^20 + reversed pos);
    // fp sets match across engines regardless of 0/1-based positions.
    QuerySpec.sql("dd_winnow_pairs",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |p0 AS (SELECT doc_id, unnest(list_transform(range(1, n - 2),
        |        i -> {'pos': i, 's': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]})) AS u
        |      FROM t),
        |p AS (SELECT doc_id, u.pos AS pos,
        |        ${hexKeySql("u.s", len = 10)} AS hk
        |      FROM p0 WHERE u.pos <= 1048576),
        |m AS (SELECT doc_id, pos,
        |        min(hk * 1048576 + (1048576 - pos))
        |          OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
        |      FROM p),
        |selp AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp FROM m WHERE pos >= 4),
        |keep AS (SELECT fp FROM selp GROUP BY fp HAVING count(*) <= 1000),
        |pr AS (SELECT selp.doc_id, selp.fp FROM selp JOIN keep USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS shared_fps
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""") {
      (s, dir) =>
        Dedup.winnowPairs(Tables.documents(s, dir), k = 4, w = 4,
            minShared = 2, maxDf = 1000)
          .orderBy(col("doc_a"), col("doc_b"))
    },

    // Maximal duplicated runs (ExactSubstr in n-gram resolution):
    // consecutive duplicated 5-gram positions merge into token-true runs;
    // longest_run_tokens drives the ">= 50-token duplicated run" drop rule
    // without a distributed suffix array.
    QuerySpec.sql("dd_dup_runs",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |p0 AS (SELECT doc_id, unnest(list_transform(range(1, n - 3),
        |        i -> {'pos': i, 's': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]})) AS u
        |      FROM t),
        |p AS (SELECT doc_id, u.pos AS pos,
        |        ${hexKeySql("u.s", len = 15)} AS sk
        |      FROM p0),
        |df AS (SELECT sk, count(DISTINCT doc_id) AS df FROM p GROUP BY sk),
        |dup AS (SELECT doc_id, pos FROM p JOIN df USING (sk) WHERE df >= 2),
        |r AS (SELECT doc_id, pos,
        |        -- token spans of positions i < j form one contiguous duplicated
        |        -- region iff j - i <= n = 5 (gap = n means touching spans: one
        |        -- unbroken region whose union is still max - min + n tokens)
        |        CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 5
        |             THEN 1 ELSE 0 END AS nr
        |      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |rid AS (SELECT doc_id, pos,
        |          sum(nr) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS run_id
        |        FROM r),
        |runs AS (SELECT doc_id, run_id,
        |           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS run_tokens
        |         FROM rid GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
        |          max(run_tokens) AS longest_run_tokens,
        |          CAST(sum(run_tokens) AS BIGINT) AS dup_tokens
        |        FROM runs GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_runs, 0) AS n_runs,
        |       coalesce(a.longest_run_tokens, 0) AS longest_run_tokens,
        |       coalesce(a.dup_tokens, 0) AS dup_tokens
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""") {
      (s, dir) =>
        Dedup.dupRuns(Tables.documents(s, dir), n = 5)
          .orderBy(col("doc_id"))
    },

    // The FULL composition contract from Dedup's scaladoc, end-to-end:
    // exact dedup FIRST (collapse identical copies for one (hash, id)
    // shuffle), near-dup edges over the survivors only, transitive
    // closure, then route every original doc through its exact canonical
    // to the cluster canonical. This is the production shape — the
    // near-dup stage never sees duplicate-saturated band buckets — and the
    // oracle rebuilds the same three stages declaratively.
    QuerySpec.sql("dd_pipeline_canonical",
      s"""WITH RECURSIVE fpx AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS f FROM documents),
        |ex AS (SELECT f, min(doc_id) AS ec FROM fpx GROUP BY f),
        |m AS (SELECT fpx.doc_id, ex.ec FROM fpx JOIN ex USING (f)),
        |surv AS (SELECT d.doc_id, d.text FROM documents d JOIN ex ON d.doc_id = ex.ec),
        |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM surv),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |sc AS (SELECT ex.ec AS doc_id, coalesce(c.component, ex.ec) AS cc
        |       FROM ex LEFT JOIN comp c ON c.doc_id = ex.ec)
        |SELECT m.doc_id, sc.cc AS canonical_id,
        |       CAST(m.doc_id = sc.cc AS BIGINT) AS is_canonical
        |FROM m JOIN sc ON sc.doc_id = m.ec
        |ORDER BY m.doc_id""") {
      (s, dir) =>
        // the composed contract as one library call — Dedup.pipelineCanonical
        Dedup.pipelineCanonical(Tables.documents(s, dir), threshold = 0.5)
          .orderBy(col("doc_id"))
    },

    // ---- Sampling (training-data mix) -----------------------------------

    // Per-stratum Bernoulli rates: keep iff hash32(doc_id) < floor(rate·2³²).
    // A pure narrow filter (no shuffle); the oracle recomputes the identical
    // md5-derived key and the thresholds below are generated by the same
    // (rate * 2^32).toLong arithmetic the operator uses.
    QuerySpec.sql("sample_stratified_rate",
      s"""WITH h AS (SELECT doc_id, lang,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk
        |           FROM documents)
        |SELECT doc_id, lang FROM h
        |WHERE hk < CASE lang ${SampleRates.map { case (l, r) =>
            s"WHEN '$l' THEN ${(r * 4294967296.0).toLong}" }.mkString(" ")} ELSE 0 END
        |ORDER BY doc_id""") {
      (s, dir) =>
        Sampling.stratifiedBernoulli(Tables.documents(s, dir), "lang", SampleRates.toMap)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
    },

    // Fixed quota per stratum: the 30 smallest-hash docs per language —
    // deterministic uniform-without-replacement.
    QuerySpec.sql("sample_stratified_quota",
      s"""WITH h AS (SELECT doc_id, lang,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk
        |           FROM documents)
        |SELECT doc_id, lang FROM h
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hk ASC, doc_id ASC) <= 30
        |ORDER BY doc_id""") {
      (s, dir) =>
        Sampling.stratifiedQuota(Tables.documents(s, dir), "lang", 30)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
    },

    // Priority sampling (Duffield-Lund-Thorup): ONE global budget the
    // strata compete for in weight proportion — priority = w/u, top-n win;
    // u = (hash32+1)/2³², so the rank key (hk+1)/w is a single IEEE
    // division on integer operands, bit-equal in both engines, ties by
    // doc_id. The plan is TakeOrderedAndProject (bounded per-partition
    // heaps), never a global sort.
    QuerySpec.sql("sample_weighted_priority",
      s"""WITH h AS (SELECT doc_id, lang,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk,
        |             CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 WHEN 'es' THEN 2
        |                       WHEN 'fr' THEN 1 WHEN 'zh' THEN 1 ELSE 0 END AS w
        |           FROM documents)
        |SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM h WHERE w > 0
        |  ORDER BY (hk + 1) / w ASC, doc_id ASC LIMIT 100)
        |ORDER BY doc_id""") {
      (s, dir) =>
        Sampling.prioritySample(Tables.documents(s, dir), "lang",
            Map("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L, "zh" -> 1L),
            n = 100)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
    },

    // Weighted mixture rebalance: subsample every language to the target
    // weight ratios, keeping the binding (scarcest-per-weight) stratum
    // whole. quota_s = floor(w_s · min_t(count_t / w_t)) — the per-weight
    // divisions are exact in binary (integer weights), so both engines floor
    // the same value.
    QuerySpec.sql("sample_mix_weights",
      s"""WITH h AS (SELECT doc_id, lang,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk,
        |             CASE lang ${MixWeights.map { case (l, wt) =>
            s"WHEN '$l' THEN ${wt}::DOUBLE" }.mkString(" ")} ELSE NULL END AS wt
        |           FROM documents),
        |hw AS (SELECT * FROM h WHERE wt IS NOT NULL),
        |counts AS (SELECT lang, count(*) AS cnt, any_value(wt) AS wt FROM hw GROUP BY 1),
        |q AS (SELECT lang, CAST(floor(wt * (SELECT min(cnt / wt) FROM counts)) AS BIGINT) AS quota
        |      FROM counts)
        |SELECT doc_id, lang FROM hw JOIN q USING (lang)
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hk ASC, doc_id ASC) <= quota
        |ORDER BY doc_id""") {
      (s, dir) =>
        Sampling.mixToWeights(Tables.documents(s, dir), "lang", MixWeights.toMap)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
    },

    // Temperature-flattened mixture (τ = 0.5): target ratios ∝ sqrt(count)
    // derived from the data itself — sqrt is correctly rounded in every
    // IEEE engine, so the quota floors match DuckDB bit-for-bit (other τ
    // would ride pow, which carries no cross-engine guarantee).
    QuerySpec.sql("sample_mix_temperature",
      s"""WITH h AS (SELECT doc_id, lang,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk
        |           FROM documents),
        |counts AS (SELECT lang, count(*) AS cnt FROM h GROUP BY 1),
        |q AS (SELECT lang, CAST(floor(sqrt(cnt) * (SELECT min(cnt / sqrt(cnt)) FROM counts)) AS BIGINT) AS quota
        |      FROM counts)
        |SELECT doc_id, lang FROM h JOIN q USING (lang)
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hk ASC, doc_id ASC) <= quota
        |ORDER BY doc_id""") {
      (s, dir) =>
        Sampling.mixTemperature(Tables.documents(s, dir), "lang", tau = 0.5)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
    },

    // CCNet perplexity buckets (Wenzek et al. 2020): per-language
    // head/middle/tail tertiles of the bigram-LM centibit score (the
    // t_ngram_lm_ppx chain, shared CTEs), boundaries derived from the
    // (lang, score) histogram — every doc sharing a score cell gets one
    // bucket, so membership needs no doc_id tie-break. Gate: head keeps
    // all, middle keeps at 500000 ppm through the md5 key, tail drops.
    QuerySpec.sql("sample_ppx_buckets",
      s"""WITH $PpxScoreCtes,
        |score AS (SELECT d.doc_id, d.lang,
        |            coalesce((100 * sc.sum_q3) // (3 * sc.n_trans), 0) AS avg_bits_x100
        |          FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
        |hist AS (SELECT lang, avg_bits_x100, CAST(count(*) AS BIGINT) AS c
        |         FROM score GROUP BY 1, 2),
        |bk AS (SELECT lang, avg_bits_x100,
        |         sum(c) OVER (PARTITION BY lang ORDER BY avg_bits_x100
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS bef,
        |         sum(c) OVER (PARTITION BY lang) AS tot
        |       FROM hist),
        |bb AS (SELECT lang, avg_bits_x100,
        |         CAST(CASE WHEN bef * 3 < tot THEN 0
        |                   WHEN bef * 3 < tot * 2 THEN 1 ELSE 2 END AS BIGINT) AS bucket
        |       FROM bk),
        |g AS (SELECT doc_id, ${hexKeySql("doc_id::VARCHAR")} % 1000000 AS gk FROM documents)
        |SELECT s.doc_id, s.lang, s.avg_bits_x100, bb.bucket,
        |       CAST(CASE WHEN gk < (CASE bb.bucket WHEN 0 THEN 1000000
        |                                           WHEN 1 THEN 500000 ELSE 0 END)
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_keep
        |FROM score s JOIN bb USING (lang, avg_bits_x100) JOIN g USING (doc_id)
        |ORDER BY s.doc_id""") {
      (s, dir) =>
        Sampling.ppxBuckets(Tables.documents(s, dir),
            keepPpm = Seq(1000000L, 500000L, 0L))
          .orderBy(col("doc_id"))
    },

    // DSIR importance selection (Xie et al. 2023): hashed unigram+bigram
    // bag features (md5 key mod 256), add-1-smoothed ppm probabilities
    // for target (source = 'src0') vs the raw corpus, per-bucket
    // log-ratio in the floor-log2 third-bit quantization, per-doc summed
    // weight, deterministic top-100 (weight desc, doc_id asc).
    QuerySpec.sql("sample_dsir",
      s"""WITH tk AS (SELECT doc_id, source = 'src0' AS is_t,
        |             string_split(text, ' ') AS t FROM documents),
        |uf AS (SELECT doc_id, is_t, unnest(t) AS f FROM tk),
        |bf AS (SELECT doc_id, is_t, t[i] || ' ' || t[i+1] AS f
        |       FROM (SELECT doc_id, is_t, t, unnest(range(1, len(t))) AS i
        |             FROM tk WHERE len(t) >= 2)),
        |fb AS (SELECT doc_id, is_t,
        |         ${hexKeySql("f")} % 256 AS b
        |       FROM (SELECT doc_id, is_t, f FROM uf
        |             UNION ALL SELECT doc_id, is_t, f FROM bf)),
        |m AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |        CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY b),
        |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM m),
        |v AS (SELECT b,
        |        CAST((length(bin(pt * pt * pt)) - 1)
        |           - (length(bin(pr * pr * pr)) - 1) AS BIGINT) AS d
        |      FROM (SELECT b, (1000000 * (ct + 1)) // (tt + 256) AS pt,
        |                   (1000000 * (cr + 1)) // (tr + 256) AS pr
        |            FROM m CROSS JOIN tt)),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |         CAST(sum(d) AS BIGINT) AS dsir_q3
        |       FROM fb JOIN v USING (b) GROUP BY doc_id),
        |top AS (SELECT doc_id, n_feats, dsir_q3 FROM sc
        |        ORDER BY dsir_q3 DESC, doc_id ASC LIMIT 100)
        |SELECT doc_id, n_feats, dsir_q3 FROM top ORDER BY doc_id""") {
      (s, dir) =>
        TextStats.dsirWeights(Tables.documents(s, dir),
            col("source") === "src0", buckets = 256, topK = 100)
          .orderBy(col("doc_id"))
    },

    // Leakage-safe train/val/test split: split membership hashes the
    // near-dup CLUSTER label (minhash closure, same CTEs as
    // dd_keep_best), never the member id — near-duplicates can never
    // straddle the train/eval boundary. 90/5/5 over floor(cum·2³²)
    // integer thresholds; singletons hash their own id.
    QuerySpec.sql("sample_split_leakage_safe",
      s"""WITH RECURSIVE sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM sp),
        |$MinhashCoeffCte,
        |hx AS (SELECT doc_id, i, min((a + (i+1) * b) % 2147483647) AS h
        |       FROM ab CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hx GROUP BY 1),
        |bands AS (SELECT doc_id, b,
        |            md5(hs[4*b+1]::VARCHAR || ',' || hs[4*b+2]::VARCHAR || ',' || hs[4*b+3]::VARCHAR || ',' || hs[4*b+4]::VARCHAR) AS bkey
        |          FROM sig CROSS JOIN range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        |          WHERE len(list_filter(range(16), i -> sa.hs[i+1] = sb.hs[i+1])) / 16.0 >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
        |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |hb AS (SELECT doc_id, cluster_id,
        |         ${hexKeySql("'42' || CAST(cluster_id AS VARCHAR)")} AS h
        |       FROM lab)
        |SELECT doc_id, cluster_id,
        |       CASE WHEN h < 3865470566 THEN 'train'
        |            WHEN h < 4080218931 THEN 'val' ELSE 'test' END AS split
        |FROM hb ORDER BY doc_id""") {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Sampling.leakageSafeSplit(docs,
            Dedup.minhashLshComponents(docs, threshold = 0.5),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .orderBy(col("doc_id"))
      }
    },

    // Sequence packing (concat-and-chunk): global token-stream layout into
    // 4096-token training sequences via a distributed prefix sum — the
    // oracle computes the same cumsum with one global window (fine at
    // sf0.01; the Spark side never does — see Packing's scaladoc).
    QuerySpec.sql("pack_sequences",
      s"""WITH s AS (SELECT doc_id,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk,
        |             len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        coalesce(sum(n_tokens) OVER (ORDER BY hk ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |      FROM s)
        |SELECT doc_id, n_tokens,
        |       CAST(floor(strt / 4096) AS BIGINT) AS pack_id,
        |       CAST(strt % 4096 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""") {
      (s, dir) =>
        Packing.packSequences(Tables.documents(s, dir), budget = 4096L)
          .orderBy(col("doc_id"))
    },

    // The full pack→slice manifest (the training writer's span map): every
    // (doc, pack) intersection with doc/pack offsets and slice length —
    // docs spanning multiple packs emit one row per pack. The oracle
    // mirrors the arithmetic with range() over the same global cumsum.
    QuerySpec.sql("pack_manifest",
      s"""WITH s AS (SELECT doc_id,
        |             ${hexKeySql("doc_id::VARCHAR")} AS hk,
        |             len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY hk ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
        |      FROM s),
        |x AS (SELECT doc_id, n_tokens, strt,
        |        unnest(range(strt // 4096, (strt + n_tokens - 1) // 4096 + 1)) AS pack_id
        |      FROM c WHERE n_tokens > 0)
        |SELECT pack_id, doc_id,
        |       greatest(pack_id * 4096 - strt, 0) AS doc_offset,
        |       greatest(strt - pack_id * 4096, 0) AS pack_offset,
        |       least((pack_id + 1) * 4096, strt + n_tokens)
        |         - greatest(pack_id * 4096, strt) AS len
        |FROM x ORDER BY pack_id, doc_id""") {
      (s, dir) =>
        Packing.packManifest(Tables.documents(s, dir), budget = 4096L)
          .orderBy(col("pack_id"), col("doc_id"))
    },

    // Deterministic per-epoch global training order: dense rank in
    // (md5('e3:' || id), id) order via the distributed two-level rank (the
    // oracle's single window IS the plan the operator exists to avoid).
    QuerySpec.sql("epoch_order",
      """SELECT doc_id,
        |       CAST(row_number() OVER (
        |         ORDER BY md5('e3:' || doc_id::VARCHAR) ASC, doc_id ASC) - 1
        |         AS BIGINT) AS epoch_pos
        |FROM documents ORDER BY doc_id""") {
      (s, dir) =>
        Packing.epochOrder(Tables.documents(s, dir), epoch = 3)
          .orderBy(col("doc_id"))
    },

    // Padding-efficient length-bucketed batching: docs ranked in
    // (n_tokens, md5-hash, id) order, consecutive ranks batched — each
    // batch spans the narrowest possible length band, and the per-batch
    // padding bill n_docs·max − sum is the number the strategy is judged
    // by. The oracle IS the single global window the operator's two-level
    // pattern avoids (the epoch_order convention); lexicographic order on
    // the fixed-width hex prefix ≡ the operator's numeric hash order.
    QuerySpec.sql("pack_length_batches",
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |             substr(md5(doc_id::VARCHAR), 1, 8) AS hk FROM documents),
        |r AS (SELECT doc_id, n,
        |        CAST(row_number() OVER (ORDER BY n, hk, doc_id) - 1 AS BIGINT) AS rk
        |      FROM t)
        |SELECT rk // 32 AS batch_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       max(n) AS max_tokens, CAST(sum(n) AS BIGINT) AS sum_tokens,
        |       CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_tokens
        |FROM r GROUP BY 1 ORDER BY 1""") {
      (s, dir) =>
        Packing.lengthBatchStats(Tables.documents(s, dir), batchSize = 32)
          .orderBy(col("batch_id"))
    },

    // Sliding-window chunking (64-token windows, stride 32): per-doc window
    // arithmetic mirrored exactly — chunk count, start indices, tail
    // truncation, and the reassembled chunk TEXT all hash-compared.
    QuerySpec.sql("chunk_sliding",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |        CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 31) // 32 + 1 END AS nc
        |      FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id, chunk_id * 32 AS start_tok,
        |       least(64, n - chunk_id * 32) AS n_tokens,
        |       array_to_string(
        |         list_slice(toks, chunk_id * 32 + 1,
        |                    least(chunk_id * 32 + 64, n)), ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_id""") {
      (s, dir) =>
        Packing.chunkSliding(Tables.documents(s, dir),
            chunkTokens = 64, stride = 32)
          .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- Similarity search ----------------------------------------------

    // Near-dup pairs blocked on a 4-plane hyperplane signature: the pair
    // join is an equi-join on the bucket (16 buckets ⇒ ~16× fewer scored
    // pairs), the scale path for O(n²)-averse near-dup detection. Pairs
    // split across buckets are out of scope by definition of the operator.
    QuerySpec.sql("emb_neardup",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |sigbits AS (
        |  SELECT vec_id, h,
        |         CASE WHEN list_sum(list_transform(range(1, 65),
        |             d -> CASE WHEN substr(md5(h::VARCHAR || ':' || (d-1)::VARCHAR), 1, 1) >= '8'
        |                       THEN qv[d] ELSE -qv[d] END)) > 0
        |              THEN '1' ELSE '0' END AS bit
        |  FROM m CROSS JOIN range(4) r(h)),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY h) AS sig FROM sigbits GROUP BY 1),
        |ms AS (SELECT m.vec_id, qv, n2, sig FROM m JOIN sig ON sig.vec_id = m.vec_id),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |          / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |      FROM ms a JOIN ms b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(cos, 4) AS cosine FROM p
        |WHERE cos >= 0.45 ORDER BY vec_a, vec_b""") {
      (s, dir) =>
        EmbeddingSim.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.45, planes = 4)
          .orderBy(col("vec_a"), col("vec_b"))
    },

    // Semantic dedup (SemDeDup): k-means cells from the SAME two unrolled
    // Lloyd rounds as ann_ivf_trained (the oracle replays the trained
    // centroids bit-for-bit), then within-cell quantized-cosine dominance —
    // drop every vector with a lower-id ≥-threshold neighbor in its cell.
    // The embedding-space twin of dd_cluster_*: catches paraphrases whose
    // token sets share nothing.
    QuerySpec.sql("dd_semantic",
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c0 AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |${kmeansRoundSql(1, "c0")},
        |${kmeansRoundSql(2, "c1")},
        |d AS (SELECT m.vec_id, c.cid,
        |        m.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.cq[i])) AS d2
        |      FROM m CROSS JOIN c2 c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |mc AS (SELECT m.vec_id, m.qv, m.n2, cells.cid FROM m JOIN cells USING (vec_id)),
        |drops AS (SELECT DISTINCT b.vec_id
        |          FROM mc a JOIN mc b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |          WHERE list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |                / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) >= 0.45)
        |SELECT cells.vec_id, cells.cid, CAST(drops.vec_id IS NULL AS BIGINT) AS is_kept
        |FROM cells LEFT JOIN drops ON drops.vec_id = cells.vec_id
        |ORDER BY cells.vec_id""") {
      (s, dir) =>
        EmbeddingSim.semanticDedup(Tables.embeddings(s, dir))
          .orderBy(col("vec_id"))
    },

    // Incremental SemDeDup — the embedding-space member of the incremental
    // family (same % 10 batch split as dd_incremental_exact/minhash): the
    // store is the trained centroids + the surviving ε-ball representatives
    // of the store corpus; the batch assigns to stored cells and is
    // dominated by in-cell stored survivors only. Oracle = the batch
    // operator's CTEs restricted to the store, plus the batch-side
    // assignment and dominance against survivors.
    QuerySpec.sql("dd_incremental_semantic",
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |ma AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |m AS (SELECT * FROM ma WHERE vec_id % 10 <> 0),
        |mb AS (SELECT * FROM ma WHERE vec_id % 10 = 0),
        |c0 AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m ORDER BY vec_id LIMIT 8),
        |${kmeansRoundSql(1, "c0")},
        |${kmeansRoundSql(2, "c1")},
        |d AS (SELECT m.vec_id, c.cid,
        |        m.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.cq[i])) AS d2
        |      FROM m CROSS JOIN c2 c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |mc AS (SELECT m.vec_id, m.qv, m.n2, cells.cid FROM m JOIN cells USING (vec_id)),
        |drops AS (SELECT DISTINCT b.vec_id
        |          FROM mc a JOIN mc b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |          WHERE list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |                / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) >= 0.45),
        |surv AS (SELECT mc.* FROM mc LEFT JOIN drops ON drops.vec_id = mc.vec_id
        |         WHERE drops.vec_id IS NULL),
        |db AS (SELECT mb.vec_id, c.cid,
        |        mb.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> mb.qv[i] * c.cq[i])) AS d2
        |      FROM mb CROSS JOIN c2 c),
        |bcells AS (SELECT vec_id, cid FROM db
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |bm AS (SELECT mb.vec_id, mb.qv, mb.n2, bcells.cid FROM mb JOIN bcells USING (vec_id)),
        |bdrops AS (SELECT DISTINCT b.vec_id
        |           FROM surv a JOIN bm b ON a.cid = b.cid
        |           WHERE list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |                 / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) >= 0.45)
        |SELECT bm.vec_id, bm.cid, CAST(bdrops.vec_id IS NULL AS BIGINT) AS is_kept
        |FROM bm LEFT JOIN bdrops ON bdrops.vec_id = bm.vec_id
        |ORDER BY bm.vec_id""") {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val store = emb.filter(col("vec_id") % 10 =!= 0)
        val cents = EmbeddingSim.kmeansCentroids(store, 8, 2)
        val surv = EmbeddingSim.semanticSurvivors(store, cents, threshold = 0.45)
        EmbeddingSim.semanticDedupAgainst(
            emb.filter(col("vec_id") % 10 === 0), cents, surv,
            threshold = 0.45)
          .orderBy(col("vec_id"))
      }
    },

    // Hierarchical-assignment SemDeDup: same trained centroids, but every
    // vector pays coarseK + k/coarseK distance evals instead of k — the
    // n·√k scale path when k grows with the corpus. The oracle replays
    // training (2 unrolled Lloyd rounds), the coarse/parent derivation and
    // BOTH assignment levels, then the same within-cell dominance.
    QuerySpec.sql("dd_semantic_hier",
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c0 AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |${kmeansRoundSql(1, "c0")},
        |${kmeansRoundSql(2, "c1")},
        |g AS (SELECT cid AS gid, cq AS gq, cn2 AS gn2 FROM c2 ORDER BY cid LIMIT 4),
        |par AS (SELECT cid, gid FROM (
        |          SELECT c.cid, g.gid,
        |                 c.cn2 + g.gn2 - 2 * list_sum(list_transform(range(1, 65), i -> c.cq[i] * g.gq[i])) AS pd2
        |          FROM c2 c CROSS JOIN g)
        |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY pd2 ASC, gid ASC) = 1),
        |ft AS (SELECT c.cid, c.cq, c.cn2, par.gid FROM c2 c JOIN par USING (cid)),
        |cg AS (SELECT vec_id, gid FROM (
        |         SELECT m.vec_id, g.gid,
        |                m.n2 + g.gn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * g.gq[i])) AS d2
        |         FROM m CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, gid ASC) = 1),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT m.vec_id, ft.cid,
        |                   m.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * ft.cq[i])) AS d2
        |            FROM m JOIN cg USING (vec_id) JOIN ft USING (gid))
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |mc AS (SELECT m.vec_id, m.qv, m.n2, cells.cid FROM m JOIN cells USING (vec_id)),
        |drops AS (SELECT DISTINCT b.vec_id
        |          FROM mc a JOIN mc b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |          WHERE list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |                / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) >= 0.45)
        |SELECT cells.vec_id, cells.cid, CAST(drops.vec_id IS NULL AS BIGINT) AS is_kept
        |FROM cells LEFT JOIN drops ON drops.vec_id = cells.vec_id
        |ORDER BY cells.vec_id""") {
      (s, dir) =>
        EmbeddingSim.semanticDedupHier(Tables.embeddings(s, dir))
          .orderBy(col("vec_id"))
    },

    // The scale configuration of the same operator: plane count derived
    // from the corpus size (expected bucket ≈ 64 vectors, so candidates
    // grow linearly with the corpus instead of n²/2^planes going quadratic
    // past a fixed blocking width) and hamming-1 multi-probe to hold
    // recall as planes grow. The oracle derives the identical plane count
    // from count(*).
    QuerySpec.sql("emb_neardup_auto",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |params AS (SELECT GREATEST(4, LEAST(24, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM m),
        |sigbits AS (
        |  SELECT vec_id, h,
        |         CASE WHEN list_sum(list_transform(range(1, 65),
        |             d -> CASE WHEN substr(md5(h::VARCHAR || ':' || (d-1)::VARCHAR), 1, 1) >= '8'
        |                       THEN qv[d] ELSE -qv[d] END)) > 0
        |              THEN '1' ELSE '0' END AS bit
        |  FROM (SELECT vec_id, qv, unnest(range((SELECT p FROM params))) AS h FROM m)),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY h) AS sig FROM sigbits GROUP BY 1),
        |ms AS (SELECT m.vec_id, qv, n2, sig FROM m JOIN sig ON sig.vec_id = m.vec_id),
        |probes AS (
        |  SELECT vec_id, qv, n2,
        |         unnest(list_concat([sig], list_transform(range((SELECT p FROM params)), i ->
        |           substr(sig, 1, CAST(i AS INT))
        |           || (CASE WHEN substr(sig, CAST(i+1 AS INT), 1) = '1' THEN '0' ELSE '1' END)
        |           || substr(sig, CAST(i+2 AS INT))))) AS psig
        |  FROM ms),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |          / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |      FROM probes a JOIN ms b ON a.psig = b.sig AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(cos, 4) AS cosine FROM p
        |WHERE cos >= 0.45 ORDER BY vec_a, vec_b""") {
      (s, dir) => {
        // Corpus size from parquet FOOTER metadata (memoized, no Spark job)
        // — a `vecs.count()` here would run a whole extra corpus pass at
        // plan-build time just to size the blocking.
        val planes = EmbeddingSim.autoPlanes(
          Tables.parquetRowCount(s, s"$dir/embeddings.parquet"))
        EmbeddingSim.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.45,
            planes = planes, probeHamming1 = true)
          .orderBy(col("vec_a"), col("vec_b"))
      }
    },

    // Greedy k-center (Gonzalez) coreset selection over the embedding
    // corpus: the diversity-sampling pass — 8 farthest-point rounds with
    // exact-integer distances and min-id ties, emitting the coverage-
    // radius sequence. The oracle unrolls the identical rounds
    // (kcRoundSql); argmax, pool update and tie-breaks hash-match.
    QuerySpec.sql("sample_kcenter",
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS MATERIALIZED (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |kc1 AS MATERIALIZED (SELECT vec_id, qv, n2 FROM m ORDER BY vec_id LIMIT 1),
        |km1 AS MATERIALIZED (SELECT m.vec_id, m.qv, m.n2,
        |          m.n2 + c.n2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.qv[i])) AS md
        |        FROM m CROSS JOIN kc1 c WHERE m.vec_id <> c.vec_id),
        |${(2 to 8).map(kcRoundSql).mkString(",\n")}
        |SELECT vec_id, CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS d2 FROM kc1
        |${(2 to 8).map(r =>
          s"UNION ALL SELECT vec_id, CAST($r AS BIGINT) AS rank, CAST(md AS BIGINT) AS d2 FROM kc$r")
          .mkString("\n")}
        |ORDER BY rank""".stripMargin) {
      (s, dir) =>
        EmbeddingSim.kCenterSelect(Tables.embeddings(s, dir), k = 8)
          .orderBy(col("rank"))
    },

    // Deterministic Rademacher random projection (JL): 64 -> 8 exact-
    // integer components per vector, signs from MD5("h:d") — the
    // hyperplaneSignature weight convention, replayed in DuckDB with the
    // same md5-hex-digit rule. Output exploded to (vec_id, rdim, rvalue).
    QuerySpec.sql("emb_random_projection",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |w AS (SELECT h, d,
        |        CASE WHEN strpos('0123456789abcdef', substr(md5(h::VARCHAR || ':' || d::VARCHAR), 1, 1)) - 1 >= 8
        |             THEN 1 ELSE -1 END AS wt
        |      FROM range(0, 8) t1(h) CROSS JOIN range(0, 64) t2(d))
        |SELECT vec_id, CAST(h AS BIGINT) AS rdim,
        |       CAST(sum(qv[d + 1] * wt) AS BIGINT) AS rvalue
        |FROM n CROSS JOIN w
        |GROUP BY 1, 2 ORDER BY vec_id, rdim""".stripMargin) {
      (s, dir) =>
        EmbeddingSim.randomProjection(Tables.embeddings(s, dir),
            outDims = 8, dims = 64)
          .orderBy(col("vec_id"), col("rdim"))
    },

    // Random-projection prefilter + exact rerank: stage 1 ranks by exact-
    // integer L2 distance-squared in the 8-dim projected space and keeps
    // k*overfetch = 40 candidates per query; stage 2 re-scores only those
    // with the original 64-dim cosine. The oracle replays the projection,
    // the projected-space distance cut and the cosine chain.
    QuerySpec.sql("ann_rp_rerank",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |w AS (SELECT h, d,
        |        CASE WHEN strpos('0123456789abcdef', substr(md5(h::VARCHAR || ':' || d::VARCHAR), 1, 1)) - 1 >= 8
        |             THEN 1 ELSE -1 END AS wt
        |      FROM range(0, 8) t1(h) CROSS JOIN range(0, 64) t2(d)),
        |rp AS (SELECT vec_id, h, CAST(sum(qv[d + 1] * wt) AS BIGINT) AS rv
        |       FROM n CROSS JOIN w GROUP BY 1, 2),
        |qs AS (SELECT vec_id AS query_id, h, rv AS qrv FROM rp WHERE vec_id % 100 = 0),
        |d2 AS (SELECT q.query_id, r.vec_id,
        |         CAST(sum((r.rv - q.qrv) * (r.rv - q.qrv)) AS BIGINT) AS d2p
        |       FROM rp r JOIN qs q ON r.h = q.h
        |       WHERE r.vec_id <> q.query_id
        |       GROUP BY 1, 2),
        |cand AS (SELECT query_id, vec_id FROM d2
        |         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2p ASC, vec_id ASC) <= 40),
        |scored AS (
        |  SELECT c.query_id, c.vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand c JOIN m a ON a.vec_id = c.query_id JOIN m b ON b.vec_id = c.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) <= 10
        |ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        EmbeddingSim.rpRerankTopK(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, k = 10, outDims = 8, overfetch = 4)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    },

    QuerySpec.sql("ann_brute_topk",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |q AS (SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM m WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT query_id, vec_id,
        |         list_sum(list_transform(range(1, 65), i -> qq[i] * qv[i]))::DOUBLE
        |           / (sqrt(qn2::DOUBLE) * sqrt(n2::DOUBLE)) AS cos
        |  FROM m CROSS JOIN q WHERE vec_id != query_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    },

    QuerySpec.sql("ann_ivf_topk",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |d AS (SELECT m.vec_id, cid,
        |        n2 + cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * cq[i])) AS d2
        |      FROM m CROSS JOIN c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 100 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.ivfTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    },

    // Hierarchical coarse-then-fine IVF: 16 fine cells under 4 coarse
    // groups; corpus assignment costs coarseK + fineK/coarseK distance
    // evaluations per vector instead of fineK (the n·√K scale path — see
    // EmbeddingSim.ivfHierTopK). The oracle replays both assignment levels
    // and both probe levels with the same (d², id) tie-breaks.
    QuerySpec.sql("ann_ivf_hier",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |f AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 16),
        |g AS (SELECT vec_id AS gid, qv AS gq, n2 AS gn2 FROM m WHERE vec_id < 4),
        |par AS (SELECT cid, gid FROM (
        |          SELECT f.cid, g.gid,
        |                 cn2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * gq[i])) AS pd2
        |          FROM f CROSS JOIN g)
        |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY pd2 ASC, gid ASC) = 1),
        |ft AS (SELECT f.cid, f.cq, f.cn2, par.gid FROM f JOIN par USING (cid)),
        |cg AS (SELECT vec_id, gid FROM (
        |         SELECT m.vec_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, gid ASC) = 1),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT m.vec_id, ft.cid,
        |                   m.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * ft.cq[i])) AS d2
        |            FROM m JOIN cg USING (vec_id) JOIN ft USING (gid))
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qg AS (SELECT query_id, gid FROM (
        |         SELECT m.vec_id AS query_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g WHERE m.vec_id % 100 = 0)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, gid ASC) <= 2),
        |qf AS (SELECT query_id, cid FROM (
        |         SELECT qg.query_id, ft.cid,
        |                a.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> a.qv[i] * ft.cq[i])) AS d2
        |         FROM qg JOIN ft USING (gid) JOIN m a ON a.vec_id = qg.query_id)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qf JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.ivfHierTopK(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    },

    // IVF with TRAINED centroids: two deterministic Lloyd rounds from the
    // lowest-id seed, then the same cell/probe plan as ann_ivf_topk. The
    // oracle unrolls the identical rounds (generated by kmeansRoundSql), so
    // the trained centroids — and therefore cells, probes, and neighbors —
    // hash-match bit-for-bit.
    QuerySpec.sql("ann_ivf_trained",
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c0 AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |${kmeansRoundSql(1, "c0")},
        |${kmeansRoundSql(2, "c1")},
        |d AS (SELECT m.vec_id, c.cid,
        |        m.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * c.cq[i])) AS d2
        |      FROM m CROSS JOIN c2 c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 100 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val cents = EmbeddingSim.kmeansCentroids(vecs, k = 8, iters = 2)
        EmbeddingSim.ivfTopK(vecs, col("vec_id") % 100 === 0, 10,
            nprobe = 2, centroids = Some(cents))
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // IVF-PQ with asymmetric-distance scoring — the memory story at 10⁹+
    // vectors: candidates are scored against m=4 per-subspace codes (one
    // trained Lloyd round per 16-dim subspace, floor-mean integer updates)
    // via a per-query lookup table, never touching a corpus vector. The
    // oracle replays the codebook round, the encoding, the LUT, and the
    // ADC sum — all integer-exact.
    QuerySpec.sql("ann_ivfpq_topk",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |d AS (SELECT m.vec_id, cid,
        |        n2 + cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * cq[i])) AS d2
        |      FROM m CROSS JOIN c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 100 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |sv AS (SELECT vec_id, r.sub, list_slice(qv, r.sub * 16 + 1, r.sub * 16 + 16) AS sq
        |       FROM m CROSS JOIN range(4) r(sub)),
        |sv2 AS (SELECT vec_id, sub, sq, list_sum(list_transform(sq, x -> x * x)) AS sn2 FROM sv),
        |b0 AS (SELECT sub, vec_id AS code, sq AS cq, sn2 AS cn2 FROM sv2 WHERE vec_id < 4),
        |pa1 AS (SELECT vec_id, sub, code FROM (
        |          SELECT s.vec_id, s.sub, b.code,
        |                 s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |          FROM sv2 s JOIN b0 b ON s.sub = b.sub)
        |        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |b1 AS (SELECT sub, code, cq, list_sum(list_transform(cq, x -> x * x)) AS cn2 FROM (
        |          SELECT sub, code, list(v ORDER BY dd) AS cq FROM (
        |            SELECT pa1.sub, pa1.code, r.dd,
        |                   CAST(floor(sum(s.sq[dd]) * 1.0 / count(*)) AS BIGINT) AS v
        |            FROM pa1 JOIN sv2 s ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
        |            CROSS JOIN range(1, 17) r(dd)
        |            GROUP BY 1, 2, 3)
        |          GROUP BY 1, 2)),
        |codes AS (SELECT vec_id, sub, code FROM (
        |            SELECT s.vec_id, s.sub, b.code,
        |                   s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |            FROM sv2 s JOIN b1 b ON s.sub = b.sub)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |lut AS (SELECT s.vec_id AS query_id, s.sub, b.code,
        |               s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS term
        |        FROM sv2 s JOIN b1 b ON s.sub = b.sub WHERE s.vec_id % 100 = 0),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |adc AS (SELECT cand.query_id, cand.vec_id, CAST(sum(lut.term) AS BIGINT) AS adc_d2
        |        FROM cand JOIN codes USING (vec_id)
        |        JOIN lut ON lut.query_id = cand.query_id
        |               AND lut.sub = codes.sub AND lut.code = codes.code
        |        GROUP BY 1, 2)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank,
        |       adc_d2
        |FROM adc
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.ivfPqTopK(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("adc_d2"))
          .orderBy(col("query_id"), col("rank"))
    },

    // The BULK-SCORING IVF-PQ configuration: lutBroadcast = false pins
    // the (query_id, sub, code) LUT join shuffled-hash — nothing
    // query-count-sized broadcasts — over a 4×-larger query set (% 25).
    // Same arithmetic, same oracle chain as ann_ivfpq_topk with the
    // wider query filter; AnnRecallSpec pins the plan shape (a
    // ShuffledHashJoin on the LUT keys, no broadcast) and row equality
    // with the broadcast form.
    QuerySpec.sql("ann_ivfpq_bulk",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |d AS (SELECT m.vec_id, cid,
        |        n2 + cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * cq[i])) AS d2
        |      FROM m CROSS JOIN c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 25 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |sv AS (SELECT vec_id, r.sub, list_slice(qv, r.sub * 16 + 1, r.sub * 16 + 16) AS sq
        |       FROM m CROSS JOIN range(4) r(sub)),
        |sv2 AS (SELECT vec_id, sub, sq, list_sum(list_transform(sq, x -> x * x)) AS sn2 FROM sv),
        |b0 AS (SELECT sub, vec_id AS code, sq AS cq, sn2 AS cn2 FROM sv2 WHERE vec_id < 4),
        |pa1 AS (SELECT vec_id, sub, code FROM (
        |          SELECT s.vec_id, s.sub, b.code,
        |                 s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |          FROM sv2 s JOIN b0 b ON s.sub = b.sub)
        |        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |b1 AS (SELECT sub, code, cq, list_sum(list_transform(cq, x -> x * x)) AS cn2 FROM (
        |          SELECT sub, code, list(v ORDER BY dd) AS cq FROM (
        |            SELECT pa1.sub, pa1.code, r.dd,
        |                   CAST(floor(sum(s.sq[dd]) * 1.0 / count(*)) AS BIGINT) AS v
        |            FROM pa1 JOIN sv2 s ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
        |            CROSS JOIN range(1, 17) r(dd)
        |            GROUP BY 1, 2, 3)
        |          GROUP BY 1, 2)),
        |codes AS (SELECT vec_id, sub, code FROM (
        |            SELECT s.vec_id, s.sub, b.code,
        |                   s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |            FROM sv2 s JOIN b1 b ON s.sub = b.sub)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |lut AS (SELECT s.vec_id AS query_id, s.sub, b.code,
        |               s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS term
        |        FROM sv2 s JOIN b1 b ON s.sub = b.sub WHERE s.vec_id % 25 = 0),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |adc AS (SELECT cand.query_id, cand.vec_id, CAST(sum(lut.term) AS BIGINT) AS adc_d2
        |        FROM cand JOIN codes USING (vec_id)
        |        JOIN lut ON lut.query_id = cand.query_id
        |               AND lut.sub = codes.sub AND lut.code = codes.code
        |        GROUP BY 1, 2)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank,
        |       adc_d2
        |FROM adc
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.ivfPqTopK(Tables.embeddings(s, dir),
            col("vec_id") % 25 === 0, 10, lutBroadcast = false)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("adc_d2"))
          .orderBy(col("query_id"), col("rank"))
    },

    // Stored-index ANN search — the incremental/frozen family's ANN
    // member: the index (centroid assignment + quantized vectors) is
    // built over the %97≠0 corpus slice, the %97=0 sliver arrives as a
    // NEW query batch and searches it — batch·nprobe·cell-depth work,
    // never batch·index. Oracle replays index build, batch probes and
    // neighbor ranks; no self-exclusion (the sides are disjoint).
    QuerySpec.sql("ann_ivf_against",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |idx AS (SELECT * FROM m WHERE vec_id % 97 <> 0),
        |qb AS (SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM m WHERE vec_id % 97 = 0),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM idx ORDER BY vec_id LIMIT 8),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT idx.vec_id, c.cid,
        |                   idx.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> idx.qv[i] * c.cq[i])) AS d2
        |            FROM idx CROSS JOIN c)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |probes AS (SELECT query_id, cid FROM (
        |             SELECT qb.query_id, c.cid,
        |                    qb.qn2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qb.qq[i] * c.cq[i])) AS d2
        |             FROM qb CROSS JOIN c)
        |           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |scored AS (
        |  SELECT p.query_id, cells.vec_id AS vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qq[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.qn2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM probes p JOIN cells USING (cid)
        |  JOIN qb a ON a.query_id = p.query_id
        |  JOIN m b ON b.vec_id = cells.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
        val batch = vecs.filter(col("vec_id") % 97 === 0)
        val cents = EmbeddingSim.prepared(indexSide)
          .orderBy(col("vec_id").asc).limit(8)
          .select(col("vec_id").as("cid"), col("q").as("cq"),
            col("n2").as("cn2"))
        val index = EmbeddingSim.ivfIndex(indexSide, cents)
        EmbeddingSim.ivfSearchAgainst(batch, cents, index, k = 10, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // Stored-index ANN search at the HIERARCHICAL geometry (r19 verdict
    // Next #1): the two-level (coarse, fineT) pair and the hier index
    // are built ONCE over the %97≠0 slice — assignment pays
    // coarseK + fineK/coarseK ≈ 2√K distance evals per vector instead
    // of the flat loop's K — and the %97=0 sliver arrives as a NEW
    // query batch probing pcoarse=2 groups then nprobe=2 fine cells.
    // The oracle replays BOTH assignment levels (parents, corpus
    // coarse→fine) and BOTH probe levels with the same (d², id)
    // tie-breaks; disjoint sides, so no self-exclusion.
    QuerySpec.sql("ann_ivf_hier_against",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |idx AS (SELECT * FROM m WHERE vec_id % 97 <> 0),
        |qb AS (SELECT vec_id AS query_id, qv AS qq, n2 AS qn2 FROM m WHERE vec_id % 97 = 0),
        |f AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM idx ORDER BY vec_id LIMIT 16),
        |g AS (SELECT vec_id AS gid, qv AS gq, n2 AS gn2 FROM idx ORDER BY vec_id LIMIT 4),
        |par AS (SELECT cid, gid FROM (
        |          SELECT f.cid, g.gid,
        |                 cn2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * gq[i])) AS pd2
        |          FROM f CROSS JOIN g)
        |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY pd2 ASC, gid ASC) = 1),
        |ft AS (SELECT f.cid, f.cq, f.cn2, par.gid FROM f JOIN par USING (cid)),
        |cg AS (SELECT vec_id, gid FROM (
        |         SELECT idx.vec_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM idx CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, gid ASC) = 1),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT idx.vec_id, ft.cid,
        |                   idx.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> idx.qv[i] * ft.cq[i])) AS d2
        |            FROM idx JOIN cg USING (vec_id) JOIN ft USING (gid))
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qg AS (SELECT query_id, gid FROM (
        |         SELECT qb.query_id, g.gid,
        |                qn2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qq[i] * gq[i])) AS d2
        |         FROM qb CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, gid ASC) <= 2),
        |qf AS (SELECT query_id, cid FROM (
        |         SELECT qg.query_id, ft.cid,
        |                a.qn2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> a.qq[i] * ft.cq[i])) AS d2
        |         FROM qg JOIN ft USING (gid) JOIN qb a ON a.query_id = qg.query_id)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |scored AS (
        |  SELECT p.query_id, cells.vec_id AS vec_id,
        |         list_sum(list_transform(range(1, 65), i -> a.qq[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.qn2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM qf p JOIN cells USING (cid)
        |  JOIN qb a ON a.query_id = p.query_id
        |  JOIN idx b ON b.vec_id = cells.vec_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
        val batch = vecs.filter(col("vec_id") % 97 === 0)
        val (coarse, fineT) = EmbeddingSim.hierCentroids(
          EmbeddingSim.prepared(indexSide), fineK = 16, coarseK = 4)
        val index = EmbeddingSim.ivfHierIndex(indexSide, coarse, fineT)
        EmbeddingSim.ivfHierSearchAgainst(batch, coarse, fineT, index,
            k = 10, pcoarse = 2, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // Centroid-drift rebuild trigger (r19 verdict Next #6): the
    // training-time per-cell snapshot (counts + integer mean assignment
    // distance) vs the same stats over a DRIFTED current index — every
    // %10 id re-embedded at 3× magnitude (explicit double arithmetic,
    // IEEE-identical in both engines), simulating a recrawl whose new
    // embedding model moved part of the corpus — under the PINNED
    // training geometry. Flags in integer ppm: population-share shift
    // > 5 points, mean-distance ratio > 1.2×, or a cell
    // emptied/appeared. The oracle replays both index builds, both stat
    // passes, shares, the ratio, and the flag; the %10·3× drift is
    // strong enough that the trigger demonstrably FIRES here (the spec
    // pins the quiet no-drift side).
    QuerySpec.sql("ann_index_drift",
      """WITH n0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |            FROM embeddings),
        |m0 AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n0),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m0 ORDER BY vec_id LIMIT 8),
        |n1 AS (SELECT vec_id,
        |         CASE WHEN vec_id % 10 = 0
        |              THEN list_transform(embedding, x -> CAST(floor((x::DOUBLE * 3) * 1000) AS BIGINT))
        |              ELSE list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) END AS qv
        |       FROM embeddings),
        |m1 AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n1),
        |a0 AS (SELECT vec_id, cid, d2 FROM (
        |         SELECT m0.vec_id, c.cid,
        |                m0.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m0.qv[i] * c.cq[i])) AS d2
        |         FROM m0 CROSS JOIN c)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |a1 AS (SELECT vec_id, cid, d2 FROM (
        |         SELECT m1.vec_id, c.cid,
        |                m1.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m1.qv[i] * c.cq[i])) AS d2
        |         FROM m1 CROSS JOIN c)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |s0 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        |              CAST(sum(d2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_d2
        |       FROM a0 GROUP BY 1),
        |s1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        |              CAST(sum(d2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_d2
        |       FROM a1 GROUP BY 1),
        |t0 AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t FROM s0),
        |t1 AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t FROM s1),
        |sh0 AS (SELECT cid, n_vecs AS train_n, (n_vecs * 1000000) // t AS train_share_ppm,
        |               mean_d2 AS train_mean_d2 FROM s0, t0),
        |sh1 AS (SELECT cid, n_vecs AS cur_n, (n_vecs * 1000000) // t AS cur_share_ppm,
        |               mean_d2 AS cur_mean_d2 FROM s1, t1),
        |j AS (SELECT coalesce(sh0.cid, sh1.cid) AS cid,
        |             coalesce(train_n, 0) AS train_n, coalesce(cur_n, 0) AS cur_n,
        |             coalesce(train_share_ppm, 0) AS train_share_ppm,
        |             coalesce(cur_share_ppm, 0) AS cur_share_ppm,
        |             train_mean_d2, cur_mean_d2,
        |             CASE WHEN train_mean_d2 > 0 AND cur_mean_d2 IS NOT NULL
        |                  THEN (cur_mean_d2 * 1000000) // train_mean_d2 END AS dist_ratio_ppm
        |      FROM sh0 FULL JOIN sh1 ON sh0.cid = sh1.cid)
        |SELECT cid, train_n, cur_n, train_share_ppm, cur_share_ppm,
        |       train_mean_d2, cur_mean_d2, dist_ratio_ppm,
        |       CAST(train_n = 0 OR cur_n = 0
        |         OR abs(cur_share_ppm - train_share_ppm) > 50000
        |         OR (train_mean_d2 = 0 AND cur_mean_d2 > 0)
        |         OR (train_mean_d2 > 0 AND dist_ratio_ppm > 1200000) AS BIGINT) AS rebuild
        |FROM j ORDER BY cid""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val cents = EmbeddingSim.prepared(vecs)
          .orderBy(col("vec_id").asc).limit(8)
          .select(col("vec_id").as("cid"), col("q").as("cq"),
            col("n2").as("cn2"))
        val drifted = vecs.select(col("vec_id"),
          when(col("vec_id") % 10 === 0,
            transform(col("embedding"), x => x.cast("double") * lit(3.0d)))
            .otherwise(transform(col("embedding"), x => x.cast("double")))
            .as("embedding"))
        val trainStats = EmbeddingSim.ivfCellStats(
          EmbeddingSim.ivfIndex(vecs, cents), cents)
        val curStats = EmbeddingSim.ivfCellStats(
          EmbeddingSim.ivfIndex(drifted, cents), cents)
        EmbeddingSim.ivfDriftReport(curStats, trainStats,
            distRatioPpmMax = 1200000L, shareShiftPpmMax = 50000L)
          .orderBy(col("cid"))
      }
    },

    // Nearest-prototype classification: per-label integer floor-mean
    // prototypes (the kmeans update arithmetic — DuckDB replays them
    // bit-for-bit), every vector classified to its nearest class mean
    // (exact integer d², ties → smaller label). The embedding-space
    // label-noise audit: is_correct = 0 rows are mislabel candidates.
    QuerySpec.sql("ann_prototype_classify",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |pr AS (SELECT plabel, pq, list_sum(list_transform(pq, x -> x * x)) AS pn2 FROM (
        |         SELECT plabel, list(v ORDER BY d) AS pq FROM (
        |           SELECT label AS plabel, r.d,
        |                  CAST(floor(sum(qv[d]) * 1.0 / count(*)) AS BIGINT) AS v
        |           FROM m CROSS JOIN range(1, 65) r(d)
        |           GROUP BY 1, 2)
        |         GROUP BY 1))
        |SELECT vec_id, label, pred_label,
        |       CAST(label = pred_label AS BIGINT) AS is_correct
        |FROM (SELECT m.vec_id, m.label, pr.plabel AS pred_label,
        |             m.n2 + pr.pn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * pr.pq[i])) AS d2
        |      FROM m CROSS JOIN pr)
        |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, pred_label ASC) = 1
        |ORDER BY vec_id""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        EmbeddingSim.prototypeClassify(vecs, EmbeddingSim.labelPrototypes(vecs))
          .orderBy(col("vec_id"))
      }
    },

    // k-NN majority-vote classification (neighbors = the brute-force
    // oracle-exact list; IVF/stored-index as the pluggable scale path):
    // modal label of the 10 nearest, ties → more votes then smaller
    // label, all engine-portable.
    QuerySpec.sql("ann_knn_classify",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |q AS (SELECT vec_id AS query_id, label, qv AS qq, n2 AS qn2 FROM m WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT query_id, m.vec_id, m.label AS n_label,
        |         list_sum(list_transform(range(1, 65), i -> qq[i] * qv[i]))::DOUBLE
        |           / (sqrt(qn2::DOUBLE) * sqrt(n2::DOUBLE)) AS cos
        |  FROM m CROSS JOIN q WHERE m.vec_id != q.query_id),
        |nn AS (SELECT query_id, vec_id, n_label FROM scored
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) <= 10),
        |v AS (SELECT query_id, n_label, CAST(count(*) AS BIGINT) AS votes FROM nn GROUP BY 1, 2),
        |p AS (SELECT query_id, n_label AS pred_label, votes FROM v
        |      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label ASC) = 1)
        |SELECT p.query_id, q.label, p.pred_label, p.votes
        |FROM p JOIN q ON q.query_id = p.query_id
        |ORDER BY p.query_id""") {
      (s, dir) =>
        EmbeddingSim.knnClassify(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, k = 10)
          .orderBy(col("query_id"))
    },

    // k-NN vote fed through the IVF retriever — the neighbor seam in its
    // 100 TB configuration (the ann_hard_negatives_ivf convention): the
    // oracle replays cells, probes, candidate join and the cosine rank
    // cut, then the same modal-label vote as ann_knn_classify.
    QuerySpec.sql("ann_knn_classify_ivf",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |d AS (SELECT m.vec_id, cid,
        |        n2 + cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * cq[i])) AS d2
        |      FROM m CROSS JOIN c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 100 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id, b.label AS n_label,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id),
        |nn AS (SELECT query_id, vec_id, n_label FROM scored
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) <= 10),
        |v AS (SELECT query_id, n_label, CAST(count(*) AS BIGINT) AS votes FROM nn GROUP BY 1, 2),
        |p AS (SELECT query_id, n_label AS pred_label, votes FROM v
        |      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label ASC) = 1)
        |SELECT p.query_id, a.label, p.pred_label, p.votes
        |FROM p JOIN m a ON a.vec_id = p.query_id
        |ORDER BY p.query_id""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        EmbeddingSim.knnClassify(vecs, col("vec_id") % 100 === 0, k = 10,
            neighbors = Some(EmbeddingSim.ivfTopK(vecs,
              col("vec_id") % 100 === 0, 10, numCentroids = 8, nprobe = 2)))
          .orderBy(col("query_id"))
      }
    },

    // Hard-negative mining (contrastive training): the 5 highest-cosine
    // WRONG-class neighbors per anchor — the label inequality rides the
    // broadcast join condition, everything else is the brute chain.
    QuerySpec.sql("ann_hard_negatives",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |q AS (SELECT vec_id AS query_id, label AS q_label, qv AS qq, n2 AS qn2 FROM m WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT query_id, m.vec_id, m.label AS neg_label,
        |         list_sum(list_transform(range(1, 65), i -> qq[i] * qv[i]))::DOUBLE
        |           / (sqrt(qn2::DOUBLE) * sqrt(n2::DOUBLE)) AS cos
        |  FROM m CROSS JOIN q
        |  WHERE m.vec_id != q.query_id AND m.label != q.q_label)
        |SELECT query_id, vec_id AS neighbor_id, neg_label,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 5 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.hardNegatives(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("neg_label"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    },

    // Hard-negative mining through the IVF candidate seam — the 100 TB
    // configuration: candidates come from ivfCandidates (the ann_ivf_topk
    // cell/probe geometry, |q|·nprobe·cell-depth bounded), the label
    // inequality filters POST-seam, and the rank window runs over the
    // retriever-bounded relation only. The oracle replays the IVF leg
    // end-to-end (cells, probes, candidate join — the t_rrf_fusion_ivf
    // convention) before the wrong-class filter and the cosine rank.
    QuerySpec.sql("ann_hard_negatives_ivf",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 8),
        |d AS (SELECT m.vec_id, cid,
        |        n2 + cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * cq[i])) AS d2
        |      FROM m CROSS JOIN c),
        |cells AS (SELECT vec_id, cid FROM d
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qp AS (SELECT vec_id AS query_id, cid FROM d WHERE vec_id % 100 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qp JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id, b.label AS neg_label,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id
        |  WHERE b.label != a.label)
        |SELECT query_id, vec_id AS neighbor_id, neg_label,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 5 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        EmbeddingSim.hardNegatives(vecs, col("vec_id") % 100 === 0, k = 5,
            candidates = Some(EmbeddingSim.ivfCandidates(vecs,
              col("vec_id") % 100 === 0, numCentroids = 8, nprobe = 2)))
          .select(col("query_id"), col("neighbor_id"), col("neg_label"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // Hard-negative mining through the HIERARCHICAL candidate seam — the
    // configuration that also deletes the flat n·K assignment term from
    // candidate generation (hierCandidates: n·2√K, the ann_ivf_hier
    // geometry). The oracle replays both assignment levels, both probe
    // levels, the candidate join, the wrong-class filter and the cosine
    // rank — every step integer-exact or IEEE-double deterministic.
    QuerySpec.sql("ann_hard_negatives_hier",
      """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |f AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 16),
        |g AS (SELECT vec_id AS gid, qv AS gq, n2 AS gn2 FROM m WHERE vec_id < 4),
        |par AS (SELECT cid, gid FROM (
        |          SELECT f.cid, g.gid,
        |                 cn2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * gq[i])) AS pd2
        |          FROM f CROSS JOIN g)
        |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY pd2 ASC, gid ASC) = 1),
        |ft AS (SELECT f.cid, f.cq, f.cn2, par.gid FROM f JOIN par USING (cid)),
        |cg AS (SELECT vec_id, gid FROM (
        |         SELECT m.vec_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, gid ASC) = 1),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT m.vec_id, ft.cid,
        |                   m.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * ft.cq[i])) AS d2
        |            FROM m JOIN cg USING (vec_id) JOIN ft USING (gid))
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qg AS (SELECT query_id, gid FROM (
        |         SELECT m.vec_id AS query_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g WHERE m.vec_id % 100 = 0)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, gid ASC) <= 2),
        |qf AS (SELECT query_id, cid FROM (
        |         SELECT qg.query_id, ft.cid,
        |                a.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> a.qv[i] * ft.cq[i])) AS d2
        |         FROM qg JOIN ft USING (gid) JOIN m a ON a.vec_id = qg.query_id)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qf JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |scored AS (
        |  SELECT query_id, cand.vec_id AS vec_id, b.label AS neg_label,
        |         list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i]))::DOUBLE
        |           / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)) AS cos
        |  FROM cand JOIN m a ON a.vec_id = cand.query_id JOIN m b ON b.vec_id = cand.vec_id
        |  WHERE b.label != a.label)
        |SELECT query_id, vec_id AS neighbor_id, neg_label,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 5 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        EmbeddingSim.hardNegatives(vecs, col("vec_id") % 100 === 0, k = 5,
            candidates = Some(EmbeddingSim.hierCandidates(vecs,
              col("vec_id") % 100 === 0)))
          .select(col("query_id"), col("neighbor_id"), col("neg_label"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // Stored-index ANN search, PQ side: centroids + codebooks + the
    // compressed (vec_id, cid, sub, code) index built ONCE on the %97≠0
    // side; the disjoint batch probes cells and ADC-scores m LUT lookups
    // per candidate against the stored codes — the search never touches
    // an index-side vector. The oracle replays the index-side Lloyd
    // round (windowed lowest-id seeds — the index side excludes vec_id
    // 0, so `vec_id < 4` would be wrong here), the encode, the cells,
    // the batch probes, the batch LUT and the ADC sum.
    QuerySpec.sql("ann_ivfpq_against",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |idx AS (SELECT * FROM m WHERE vec_id % 97 <> 0),
        |qb AS (SELECT vec_id, qv, n2 FROM m WHERE vec_id % 97 = 0),
        |c AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM idx ORDER BY vec_id LIMIT 8),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT idx.vec_id, c.cid,
        |                   idx.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> idx.qv[i] * c.cq[i])) AS d2
        |            FROM idx CROSS JOIN c)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |svi AS (SELECT vec_id, r.sub, list_slice(qv, r.sub * 16 + 1, r.sub * 16 + 16) AS sq
        |        FROM idx CROSS JOIN range(4) r(sub)),
        |svi2 AS (SELECT vec_id, sub, sq, list_sum(list_transform(sq, x -> x * x)) AS sn2 FROM svi),
        |b0 AS (SELECT sub, vec_id AS code, sq AS cq, sn2 AS cn2 FROM svi2
        |       QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id ASC) <= 4),
        |pa1 AS (SELECT vec_id, sub, code FROM (
        |          SELECT s.vec_id, s.sub, b.code,
        |                 s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |          FROM svi2 s JOIN b0 b ON s.sub = b.sub)
        |        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |b1 AS (SELECT sub, code, cq, list_sum(list_transform(cq, x -> x * x)) AS cn2 FROM (
        |          SELECT sub, code, list(v ORDER BY dd) AS cq FROM (
        |            SELECT pa1.sub, pa1.code, r.dd,
        |                   CAST(floor(sum(s.sq[dd]) * 1.0 / count(*)) AS BIGINT) AS v
        |            FROM pa1 JOIN svi2 s ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
        |            CROSS JOIN range(1, 17) r(dd)
        |            GROUP BY 1, 2, 3)
        |          GROUP BY 1, 2)),
        |codes AS (SELECT vec_id, sub, code FROM (
        |            SELECT s.vec_id, s.sub, b.code,
        |                   s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |            FROM svi2 s JOIN b1 b ON s.sub = b.sub)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |probes AS (SELECT query_id, cid FROM (
        |             SELECT qb.vec_id AS query_id, c.cid,
        |                    qb.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> qb.qv[i] * c.cq[i])) AS d2
        |             FROM qb CROSS JOIN c)
        |           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |svq AS (SELECT vec_id AS query_id, r.sub, list_slice(qv, r.sub * 16 + 1, r.sub * 16 + 16) AS sq
        |        FROM qb CROSS JOIN range(4) r(sub)),
        |lut AS (SELECT s.query_id, s.sub, b.code,
        |               list_sum(list_transform(s.sq, x -> x * x)) + b.cn2
        |                 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS term
        |        FROM svq s JOIN b1 b ON s.sub = b.sub),
        |adc AS (SELECT p.query_id, cells.vec_id, CAST(sum(lut.term) AS BIGINT) AS adc_d2
        |        FROM probes p JOIN cells USING (cid)
        |        JOIN codes ON codes.vec_id = cells.vec_id
        |        JOIN lut ON lut.query_id = p.query_id
        |               AND lut.sub = codes.sub AND lut.code = codes.code
        |        GROUP BY 1, 2)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank,
        |       adc_d2
        |FROM adc
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val indexSide = vecs.filter(col("vec_id") % 97 =!= 0)
        val batch = vecs.filter(col("vec_id") % 97 === 0)
        val cents = EmbeddingSim.prepared(indexSide)
          .orderBy(col("vec_id").asc).limit(8)
          .select(col("vec_id").as("cid"), col("q").as("cq"),
            col("n2").as("cn2"))
        val books = EmbeddingSim.pqCodebooks(indexSide, m = 4,
          codebookK = 4, iters = 1)
        val index = EmbeddingSim.ivfPqIndex(indexSide, cents, books)
        EmbeddingSim.ivfPqSearchAgainst(batch, cents, books, index,
            k = 10, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("adc_d2"))
          .orderBy(col("query_id"), col("rank"))
      }
    },

    // IVF-PQ with HIERARCHICAL cell assignment — the composition a 100 TB
    // corpus runs: coarse-then-fine assignment (n·2√K instead of n·K, the
    // ann_ivf_hier CTEs) feeding the same trained-codebook ADC scoring as
    // ann_ivfpq_topk. The oracle replays both assignment levels, both
    // probe levels, the per-subspace Lloyd round, the encoding, the LUT
    // and the ADC sum — all integer-exact.
    QuerySpec.sql("ann_ivfpq_hier",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |f AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM m WHERE vec_id < 16),
        |g AS (SELECT vec_id AS gid, qv AS gq, n2 AS gn2 FROM m WHERE vec_id < 4),
        |par AS (SELECT cid, gid FROM (
        |          SELECT f.cid, g.gid,
        |                 cn2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * gq[i])) AS pd2
        |          FROM f CROSS JOIN g)
        |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY pd2 ASC, gid ASC) = 1),
        |ft AS (SELECT f.cid, f.cq, f.cn2, par.gid FROM f JOIN par USING (cid)),
        |cg AS (SELECT vec_id, gid FROM (
        |         SELECT m.vec_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g)
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, gid ASC) = 1),
        |cells AS (SELECT vec_id, cid FROM (
        |            SELECT m.vec_id, ft.cid,
        |                   m.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> m.qv[i] * ft.cq[i])) AS d2
        |            FROM m JOIN cg USING (vec_id) JOIN ft USING (gid))
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
        |qg AS (SELECT query_id, gid FROM (
        |         SELECT m.vec_id AS query_id, g.gid,
        |                n2 + gn2 - 2 * list_sum(list_transform(range(1, 65), i -> qv[i] * gq[i])) AS d2
        |         FROM m CROSS JOIN g WHERE m.vec_id % 100 = 0)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, gid ASC) <= 2),
        |qf AS (SELECT query_id, cid FROM (
        |         SELECT qg.query_id, ft.cid,
        |                a.n2 + ft.cn2 - 2 * list_sum(list_transform(range(1, 65), i -> a.qv[i] * ft.cq[i])) AS d2
        |         FROM qg JOIN ft USING (gid) JOIN m a ON a.vec_id = qg.query_id)
        |       QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) <= 2),
        |sv AS (SELECT vec_id, r.sub, list_slice(qv, r.sub * 16 + 1, r.sub * 16 + 16) AS sq
        |       FROM m CROSS JOIN range(4) r(sub)),
        |sv2 AS (SELECT vec_id, sub, sq, list_sum(list_transform(sq, x -> x * x)) AS sn2 FROM sv),
        |b0 AS (SELECT sub, vec_id AS code, sq AS cq, sn2 AS cn2 FROM sv2 WHERE vec_id < 4),
        |pa1 AS (SELECT vec_id, sub, code FROM (
        |          SELECT s.vec_id, s.sub, b.code,
        |                 s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |          FROM sv2 s JOIN b0 b ON s.sub = b.sub)
        |        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |b1 AS (SELECT sub, code, cq, list_sum(list_transform(cq, x -> x * x)) AS cn2 FROM (
        |          SELECT sub, code, list(v ORDER BY dd) AS cq FROM (
        |            SELECT pa1.sub, pa1.code, r.dd,
        |                   CAST(floor(sum(s.sq[dd]) * 1.0 / count(*)) AS BIGINT) AS v
        |            FROM pa1 JOIN sv2 s ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
        |            CROSS JOIN range(1, 17) r(dd)
        |            GROUP BY 1, 2, 3)
        |          GROUP BY 1, 2)),
        |codes AS (SELECT vec_id, sub, code FROM (
        |            SELECT s.vec_id, s.sub, b.code,
        |                   s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS d2
        |            FROM sv2 s JOIN b1 b ON s.sub = b.sub)
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) = 1),
        |lut AS (SELECT s.vec_id AS query_id, s.sub, b.code,
        |               s.sn2 + b.cn2 - 2 * list_sum(list_transform(range(1, 17), i -> s.sq[i] * b.cq[i])) AS term
        |        FROM sv2 s JOIN b1 b ON s.sub = b.sub WHERE s.vec_id % 100 = 0),
        |cand AS (SELECT query_id, cells.vec_id AS vec_id FROM qf JOIN cells USING (cid)
        |         WHERE cells.vec_id != query_id),
        |adc AS (SELECT cand.query_id, cand.vec_id, CAST(sum(lut.term) AS BIGINT) AS adc_d2
        |        FROM cand JOIN codes USING (vec_id)
        |        JOIN lut ON lut.query_id = cand.query_id
        |               AND lut.sub = codes.sub AND lut.code = codes.code
        |        GROUP BY 1, 2)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank,
        |       adc_d2
        |FROM adc
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.ivfPqHierTopK(Tables.embeddings(s, dir),
            col("vec_id") % 100 === 0, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("adc_d2"))
          .orderBy(col("query_id"), col("rank"))
    },

    QuerySpec.sql("ann_lsh_topk",
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |m AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM n),
        |sigbits AS (
        |  SELECT vec_id, h,
        |         CASE WHEN list_sum(list_transform(range(1, 65),
        |             d -> CASE WHEN substr(md5(h::VARCHAR || ':' || (d-1)::VARCHAR), 1, 1) >= '8'
        |                       THEN qv[d] ELSE -qv[d] END)) > 0
        |              THEN '1' ELSE '0' END AS bit
        |  FROM m CROSS JOIN range(8) r(h)),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY h) AS sig FROM sigbits GROUP BY 1),
        |ms AS (SELECT m.vec_id, qv, n2, sig FROM m JOIN sig ON sig.vec_id = m.vec_id),
        |q AS (SELECT vec_id AS query_id, qv AS qq, n2 AS qn2,
        |        unnest(list_concat([sig], list_transform(range(8), i ->
        |          substr(sig, 1, CAST(i AS INT))
        |          || (CASE WHEN substr(sig, CAST(i+1 AS INT), 1) = '1' THEN '0' ELSE '1' END)
        |          || substr(sig, CAST(i+2 AS INT))))) AS psig
        |      FROM ms WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT query_id, vec_id,
        |         list_sum(list_transform(range(1, 65), i -> qq[i] * qv[i]))::DOUBLE
        |           / (sqrt(qn2::DOUBLE) * sqrt(n2::DOUBLE)) AS cos
        |  FROM ms JOIN q ON sig = psig AND vec_id != query_id)
        |SELECT query_id, vec_id AS neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank,
        |       round(cos, 4) AS cosine
        |FROM scored
        |QUALIFY rank <= 10 ORDER BY query_id, rank""") {
      (s, dir) =>
        EmbeddingSim.lshTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, 10, planes = 8)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
    }
  )
}
