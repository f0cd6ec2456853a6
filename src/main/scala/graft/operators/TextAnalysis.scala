package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Extensions.dec

import scala.collection.immutable.ListMap

/** Text-analysis operators a training-data pipeline runs over every
  * document (north-star obligations beyond SURVEY §2.5 X2): token
  * counting (whitespace + BPE-ish greedy chunking), language-ID by
  * stopword ratio, quality scoring, and a position-weighted document
  * fingerprint. All pure column expressions / HOFs — per-row narrow
  * work that scales embarrassingly; the only shuffle anywhere is the
  * fingerprint's per-doc aggregate, keyed by doc_id (no hot keys).
  *
  * Determinism: counts and flags are integers; the two ratios are
  * exact-in-double fractions of small ints rounded at 4 dp (no
  * representable half-way ties for denominators ≤ 1000).
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  import Hashing.h32

  /** Token counting: whitespace tokens vs BPE-ish greedy ≤4-char
    * chunks (`[a-z]{1,4}` — leftmost-greedy in both regex engines).
    * The chunk count is the "token budget" estimator a pipeline uses
    * before running a real tokenizer.
    */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).cast("long").as("n_bpe_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  private val stopwords = Seq("the", "a", "of", "to", "and", "is", "in")

  /** Language-ID heuristic: share of closed-class English tokens.
    * Prediction is pure integer arithmetic (10·stop ≥ n ⇔ ratio ≥
    * 10%), so no float can flip a label.
    */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val nStop = size(filter(w, t => t.isin(stopwords.map(lit(_)): _*)))
    docs(s, dir)
      .select(
        col("doc_id"), col("lang"),
        size(w).cast("long").as("n_tokens"),
        nStop.cast("long").as("n_stop"),
        when(nStop * 10 >= size(w), lit("en")).otherwise(lit("other")).as("pred"))
      .orderBy("doc_id")
  }

  /** X123 — language-ID evaluation (`q_lang_confusion`): the
    * classifier-eval table the eval-harness family was missing — X9
    * PREDICTS, this SCORES it against the stored ground truth: the
    * complete 2×2 confusion grid (truth collapsed to en/other —
    * X9's label space; zero cells present, the X101 rule) with the
    * four derived metrics riding every row: accuracy, en-precision,
    * en-recall, en-F1. F1 = 2tp/(2tp+fp+fn) is an EXACT integer
    * rational — the whole metric block is 4dp integer HALF_UP, no
    * float anywhere; a real harness swaps any classifier into the
    * same grid (X108 scores gate AGREEMENT, this scores against
    * TRUTH — the missing third leg).
    *
    * Scale shape: one narrow corpus pass (the X9 expressions in-row)
    * collapsed map-side to ≤4 cells; the literal grid left-join
    * completes zeros; metrics are a 1-row broadcast.
    */
  private def langConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = split(col("text"), " ")
    val nStop = size(filter(w, t => t.isin(stopwords.map(lit(_)): _*)))
    val scored = docs(s, dir)
      .select(
        when(col("lang") === "en", lit("en")).otherwise(lit("other")).as("truth"),
        when(nStop * 10 >= size(w), lit("en")).otherwise(lit("other")).as("pred"))
      .groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("c"))
    val grid = Seq(("en", "en"), ("en", "other"), ("other", "en"), ("other", "other"))
      .toDF("truth", "pred")
      .join(scored, Seq("truth", "pred"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .localCheckpoint()
    val m = grid.agg(
      sum(when(col("truth") === "en" && col("pred") === "en", col("c"))
        .otherwise(lit(0L))).as("tp"),
      sum(when(col("truth") === "other" && col("pred") === "en", col("c"))
        .otherwise(lit(0L))).as("fp"),
      sum(when(col("truth") === "en" && col("pred") === "other", col("c"))
        .otherwise(lit(0L))).as("fn"),
      sum(when(col("truth") === "other" && col("pred") === "other", col("c"))
        .otherwise(lit(0L))).as("tn"))
    val metrics = Seq(
      "accuracy" -> ("tp + tn", "tp + fp + fn + tn"),
      "precision_en" -> ("tp", "tp + fp"),
      "recall_en" -> ("tp", "tp + fn"),
      "f1_en" -> ("2 * tp", "2 * tp + fp + fn"))
    grid.crossJoin(broadcast(m))
      .select(Seq(col("truth"), col("pred"), col("c").cast("long").as("n")) ++
        metrics.map { case (name, (num, den)) =>
          Extensions.share4(num, den).as(name)
        }: _*)
      .orderBy("truth", "pred")
  }

  private def langConfusionSql: String =
    """WITH s AS (
      |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS truth,
      |    CASE WHEN 10 * len(list_filter(string_split(text, ' '),
      |         x -> x IN ('the', 'a', 'of', 'to', 'and', 'is', 'in')))
      |         >= len(string_split(text, ' ')) THEN 'en' ELSE 'other' END AS pred
      |  FROM documents),
      |ct AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.truth, g.pred, COALESCE(ct.c, 0) AS c
      |  FROM (SELECT unnest(['en', 'en', 'other', 'other']) AS truth,
      |               unnest(['en', 'other', 'en', 'other']) AS pred) g
      |  LEFT JOIN ct ON ct.truth = g.truth AND ct.pred = g.pred),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN truth = 'en' AND pred = 'en' THEN c ELSE 0 END) AS tp,
      |    sum(CASE WHEN truth = 'other' AND pred = 'en' THEN c ELSE 0 END) AS fp,
      |    sum(CASE WHEN truth = 'en' AND pred = 'other' THEN c ELSE 0 END) AS fn,
      |    sum(CASE WHEN truth = 'other' AND pred = 'other' THEN c ELSE 0 END) AS tn
      |  FROM grid)
      |SELECT g.truth, g.pred, g.c AS n,
      |  CASE WHEN m.tp + m.fp + m.fn + m.tn = 0 THEN 0.0 ELSE
      |    CAST((20000 * (m.tp + m.tn) + (m.tp + m.fp + m.fn + m.tn))
      |      // (2 * (m.tp + m.fp + m.fn + m.tn)) AS BIGINT) / 10000.0 END AS accuracy,
      |  CASE WHEN m.tp + m.fp = 0 THEN 0.0 ELSE
      |    CAST((20000 * m.tp + (m.tp + m.fp)) // (2 * (m.tp + m.fp)) AS BIGINT) / 10000.0
      |  END AS precision_en,
      |  CASE WHEN m.tp + m.fn = 0 THEN 0.0 ELSE
      |    CAST((20000 * m.tp + (m.tp + m.fn)) // (2 * (m.tp + m.fn)) AS BIGINT) / 10000.0
      |  END AS recall_en,
      |  CASE WHEN 2 * m.tp + m.fp + m.fn = 0 THEN 0.0 ELSE
      |    CAST((20000 * 2 * m.tp + (2 * m.tp + m.fp + m.fn))
      |      // (2 * (2 * m.tp + m.fp + m.fn)) AS BIGINT) / 10000.0 END AS f1_en
      |FROM grid g, m ORDER BY truth, pred""".stripMargin

  /** Quality scoring: length, mean token length, type-token ratio,
    * and the integer-arithmetic keep/drop flag a filtering pipeline
    * would apply (≥20 tokens and TTR ≥ 30%).
    */
  private def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val nTok = size(w)
    val nDistinct = size(array_distinct(w))
    val tokChars = aggregate(transform(w, t => length(t)), lit(0), (acc, x) => acc + x)
    docs(s, dir)
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        nDistinct.cast("long").as("n_distinct"),
        tokChars.cast("long").as("token_chars"),
        round(tokChars.cast("double") / nTok, 4).as("avg_token_len"),
        round(nDistinct.cast("double") * 100 / nTok, 4).as("ttr_pct"),
        when(nTok >= 20 && nDistinct * 10 >= nTok * 3, lit(1L)).otherwise(lit(0L)).as("is_quality"))
      .orderBy("doc_id")
  }

  /** Position-weighted rolling fingerprint: Σ (h32(tokᵢ) mod 2²⁰−3) ·
    * ((i mod 64)+1) over all token occurrences — order-sensitive
    * (unlike a set hash), bounded to exact-integer range, and
    * computable by both engines bit-identically.
    */
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum((h32(col("tok")) % 1048573) * ((col("pos") % 64) + 1)).cast("long").as("fingerprint"))
      .orderBy("doc_id")

  /** Corpus n-gram frequencies: top bigrams by occurrence count
    * (tokenizer/vocab training input). Explode → count → top-K with
    * total-order tie-break; map-side partial aggregation carries the
    * count, the top-K is TakeOrderedAndProject.
    */
  private def ngramFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  /** Tokens must appear in at least this many documents to take part
    * in co-occurrence counting — the PMI support floor every real PMI
    * pipeline applies (a pair's n_docs is ≤ each token's df, so pairs
    * this drops could never clear a support threshold either). The
    * same floor, same value, in the DuckDB oracle.
    */
  private[graft] val cooccurMinDf = 5

  /** Token co-occurrence counts (PMI ingredients): document-level
    * pairs via a per-document self-join on distinct tokens, with the
    * df ≥ [[cooccurMinDf]] floor applied BEFORE pairing. The raw join
    * emits Σ_d (distinct_tokens_d choose 2) rows — quadratic in
    * document length — so the floor is what bounds it: rare tokens
    * (the Zipf tail, the bulk of any real vocabulary) never enter the
    * pair stream, and surviving pairs are exactly those that could
    * matter for PMI. Result-preserving here by a wide margin: the
    * 30th-ranked pair has n_docs ≈ 328 (sf0.01) / 3192 (sf0.1), far
    * above the floor.
    */
  private def cooccur(s: SparkSession, dir: String): DataFrame =
    cooccurTop(s, dir, cooccurMinDf)

  /** The pipeline above, parameterized by the floor so
    * TextAnalysisSpec can pin floored top-30 ≡ unfloored top-30
    * (minDf = 1 disables the filter entirely).
    */
  private[graft] def cooccurTop(s: SparkSession, dir: String, minDf: Long): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val kept = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("tok"))
    val ftoks = toks.join(kept, "tok")
    ftoks.as("a")
      .join(ftoks.as("b"), col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(30)
  }

  /** Document frequency per token — THE df derivation, shared by
    * `q_doc_freq` and `Search.tfidf` so the two declared queries can
    * never drift on tokenization or the distinct-per-doc rule.
    * Distinct-per-doc explode collapses to per-partition vocab
    * partials before the (tiny) shuffle.
    *
    * (Historical note: the scaladoc once warned idf's log was
    * engine-library-dependent and kept df "the contract"; r10
    * bit-audited `ln` on every ratio-of-small-ints input this corpus
    * produces — ≤1 ulp apart, absorbed by round-4 — so `q_tfidf` now
    * declares the full score while df remains the exact ingredient.)
    */
  private[operators] def dfByToken(d: DataFrame): DataFrame =
    d.select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))

  private def docFreq(s: SparkSession, dir: String): DataFrame =
    dfByToken(docs(s, dir))
      .orderBy(col("df").desc, col("tok").asc)

  /** Length histogram: docs bucketed by token count (decade buckets). */
  private def lenHist(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select((floor(size(split(col("text"), " ")) / 10) * 10).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")

  /** X20 — repetition scoring: the top-bigram-share quality rule
    * (Gopher-style repetition filters — Rae et al. 2021 — simplified
    * to token bigrams): a document whose single most frequent bigram
    * exceeds 20 % of all its bigrams is template/boilerplate spam, a
    * signal TTR (X10) misses because repeated PHRASES can still have
    * a healthy distinct-token ratio. The flag is integer arithmetic
    * (5·max > n), so no float can flip it. Like the dedup family's
    * planted near-dups, every 30th doc is deterministically replaced
    * (first word × 40) in BOTH engines so the flag is non-vacuous and
    * the planted ids form a built-in truth set.
    *
    * Scale shape: (doc, bigram) aggregate with map-side partials,
    * then a doc-keyed reduce of the compressed counts — the same
    * two-level shape as the fingerprint, no skew beyond document
    * length.
    */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    val w1 = element_at(split(col("text"), " "), 1)
    // trim(join(repeat("w "))) — congruent token for token with the
    // oracle's trim(repeat(w1 || ' ', 40)), INCLUDING the empty-first-
    // token edge (both collapse to '' and the size filter drops the
    // doc); concat_ws(" ", array_repeat(w1, 40)) would instead keep
    // 40 empty tokens on the Spark side and diverge under corpus drift
    docs(s, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 30 === 0,
          trim(concat_ws("", array_repeat(concat(w1, lit(" ")), 40))))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_bigrams"),
        max(col("c")).cast("long").as("max_count"))
      .withColumn("is_repetitive",
        when(col("max_count") * 5 > col("n_bigrams"), 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Misra–Gries capacity for [[heavyHitters]]. Must exceed the
    * number of DISTINCT tokens that can tie into the top-K by more
    * than the spill bound allows; 64 over this corpus's fixed
    * 31-token vocabulary means the sketch is lossless (spill = 0) at
    * every SF — the certificate below degenerates to "trivially
    * exact" — while the spilling/fallback regimes stay covered by
    * MisraGriesProps on adversarial streams.
    */
  private[graft] val mgCapacity = 64

  /** X22 — exact heavy hitters through a frequent-items sketch: the
    * "top-K tokens over a corpus" query at the 100 TB shape. A plain
    * `groupBy(tok).count` shuffles the entire vocabulary (unbounded:
    * real corpora have billions of distinct tokens); the Misra–Gries
    * route is
    *
    *   1. ONE narrow pass building a `capacity`-entry
    *      [[graft.functions.MisraGries]] sketch per partition,
    *      merged map-side — constant memory, one tiny row to the
    *      driver;
    *   2. an exact RECOUNT of just the ≤`capacity` candidates (an
    *      IN-list filter straight on the token stream, so the
    *      recount's shuffle carries ≤`capacity` keys);
    *   3. a certificate: every non-candidate's true count is ≤ the
    *      sketch's total decrement weight (`spill`), so if the K-th
    *      recounted frequency exceeds `spill`, the top-K is PROVABLY
    *      exact. If the certificate fails — adversarially flat
    *      distributions — fall back to the exact full aggregate:
    *      never a wrong answer, just a slower plan.
    *
    * Construction is eager like `Dedup.nearPairs`' probe: the sketch
    * job runs when the query is BUILT (bounded: one scan, one
    * `capacity`-entry row), choosing between two provably-equivalent
    * plans. spill = 0 skips the certificate re-scan entirely (the
    * sketch was lossless, so candidates = the whole vocabulary).
    */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOver(
      docs(s, dir).select(explode(split(col("text"), " ")).as("tok")),
      mgCapacity, 20)

  /** The sketch → recount → certificate pipeline over any one-column
    * `tok` frame, parameterized so TextAnalysisSpec can force the
    * spilling and fallback regimes with synthetic streams and tiny
    * capacities.
    *
    * NULL tokens are excluded by contract — up front, on BOTH paths
    * (the sketch skips nulls and `isin` filters them, but a plain
    * `groupBy` would count a null group: without the shared filter
    * the fallback and the certified path would disagree on
    * null-bearing input).
    */
  private[graft] def heavyHittersOver(toks: DataFrame, capacity: Int, k: Int): DataFrame = {
    val clean = toks.filter(col("tok").isNotNull)
    val exactTopK = (in: DataFrame) => in
      .groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(k)
    val sketch = clean
      .agg(call_function("graft_mg_topk", col("tok"), lit(capacity)).as("mg"))
      .select(col("mg.spill"), col("mg.toks")).head()
    val spill = sketch.getLong(0)
    val cands = sketch.getSeq[String](1)
    // persisted in the spill > 0 regime only: there the certificate
    // collect() below would otherwise run the full scan + shuffle
    // that the returned frame re-runs on execution (spill == 0 never
    // collects, and an unconditional persist would accumulate a cache
    // entry per construction)
    val base = exactTopK(clean.filter(col("tok").isin(cands: _*)))
    val recount = if (spill > 0) base.persist() else base
    // the K-th recounted frequency must STRICTLY exceed spill (an
    // absent token can have true count == spill and would win a
    // tie-break the recount never saw), and there must BE K certified
    // rows — fewer candidates than K proves nothing about ranks
    // |cands|+1 … K when spill > 0
    val certified = spill == 0 || {
      val rows = recount.collect()
      rows.length == k && rows.last.getLong(1) > spill
    }
    if (certified) recount else exactTopK(clean)
  }

  /** X27 — n-gram LM typicality scoring: per-document average bigram
    * log-probability under the corpus's own bigram model — the
    * quality-filter shape of CCNet/Gopher-style pipelines (docs that
    * score far below corpus-typical are boilerplate/noise; far above
    * are repetitive). Trained on the corpus itself, so every doc
    * bigram exists in the model and no smoothing is needed: each term
    * is ln(c(w₁w₂)/c(w₁·)), a ratio of exact small integers — the
    * same bit-audited `ln` input class `q_tfidf` declares, with the
    * per-doc sum's reassociation drift (~n·ulp ≈ 1e-13) absorbed by
    * round-4 like BM25's.
    *
    * Scale shape: the (doc, bigram) stream joins two
    * vocabulary-sized dictionaries (bigram counts, prefix counts) —
    * sublinear by Heaps' law, joined WITHOUT a hint (auto-broadcast
    * while small, AQE-skew-split shuffle join beyond; never a
    * token-keyed window) — then one doc-keyed aggregate with
    * map-side partials.
    */
  private def lmScore(s: SparkSession, dir: String): DataFrame = {
    // r21: fan-out TRIED and reverted — the bigram stream feeds two
    // dictionary collapses and a re-join, and the 32-way upstream made
    // those shuffles cost more than the explode saved (measured
    // 1.25 s → 2.18 s at sf0.1)
    val pairs = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS w1,
          |              concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bg))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val cBg = pairs.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val cU = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c_u"))
    pairs
      .join(cBg, "bg")
      .join(cU, "w1")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(log(col("c_bg").cast("double") / col("c_u"))) / count(lit(1)), 4)
          .as("lm_logp"))
      .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"), col("lm_logp"))
      .orderBy("doc_id")
  }

  /** X23 — text normalization: Unicode NFC (the codegen'd
    * [[graft.functions.NfcNormalize]] expression — Spark has no
    * built-in), case folding, and whitespace collapse, the canonical
    * first pass over crawled text (decomposed combining marks make
    * visually-identical documents hash differently, defeating every
    * exact and shingle-based dedup downstream). The corpus is ASCII,
    * so every 10th doc gets a planted decomposed-uppercase-ragged
    * prefix in BOTH engines (the dedup-family planted-truth pattern);
    * the md5 of the normalized text is what the hash gate compares,
    * certifying byte-identical normalization without moving docs.
    *
    * Scale shape: pure narrow per-row work inside WholeStageCodegen
    * (the NFC expression short-circuits on already-normalized text,
    * which is ~every real row); no shuffle but the final order-by.
    */
  /** The canonical text-normalization column (X23 as an expression):
    * NFC-recompose, lowercase, collapse runs of spaces, trim — shared
    * by the declared query and the composed pipeline's first stage.
    */
  private[graft] def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(call_function("graft_nfc", c)), " +", " "))

  private def normalize(s: SparkSession, dir: String): DataFrame = {
    // "NFĆ  Tést  " with the accents DECOMPOSED (base + U+0301), so
    // NFC genuinely recomposes: 13 raw codepoints -> 11 normalized
    val plant = "NFC\u0301  Te\u0301st  "
    val norm = normText(col("text"))
    docs(s, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(lit(plant), col("text")))
          .otherwise(col("text")).as("text"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_raw_chars"),
        length(norm).cast("long").as("n_norm_chars"),
        md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Data profiling — the first thing any pipeline runs against a new
    * table: per-column counts, null counts, distinct counts, min/max.
    * Numeric and string extrema live in separate typed columns (no
    * cross-engine float→string formatting in the output).
    *
    * ONE aggregate computes every column's measures in a single scan
    * (r8 verdict: the per-column `agg` + union form read `orders` five
    * times — profiling is the query you run on the BIGGEST table
    * first, so at 100 TB that was 5× the IO of this plan). The five
    * `countDistinct`s share the scan through Catalyst's Expand-based
    * multi-distinct rewrite — row amplification in the shuffle, but
    * one pass over the files; the wide one-row result is then
    * unpivoted driver-cheap via explode(array(structs)).
    */
  private def profile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
        (numCols ++ strCols).flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"${c}__n_null"),
            countDistinct(col(c)).as(s"${c}__n_distinct"))
        } ++
        numCols.flatMap { c =>
          Seq(
            round(min(col(c)).cast("double"), 4).as(s"${c}__min"),
            round(max(col(c)).cast("double"), 4).as(s"${c}__max"))
        } ++
        strCols.flatMap { c =>
          Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))
        }
    val rows =
      numCols.map { c =>
        struct(
          lit(c).as("col_name"), col("n"),
          col(s"${c}__n_null").as("n_null"),
          col(s"${c}__n_distinct").as("n_distinct"),
          col(s"${c}__min").as("min_num"), col(s"${c}__max").as("max_num"),
          lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
      } ++ strCols.map { c =>
        struct(
          lit(c).as("col_name"), col("n"),
          col(s"${c}__n_null").as("n_null"),
          col(s"${c}__n_distinct").as("n_distinct"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col(s"${c}__min").as("min_str"), col(s"${c}__max").as("max_str"))
      }
    o.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy("col_name")
  }

  /** Top-V vocabulary size — operator config (a tokenizer's vocab
    * budget), never corpus-proportional. 20 of this corpus's 31
    * distinct tokens, so per-document coverage genuinely varies.
    */
  private[graft] val vocabV = 20

  /** The corpus's top-[[vocabV]] tokens with their counts (count
    * desc, tok asc — a total order, so the cut is deterministic).
    */
  private def topVocab(toks: DataFrame): DataFrame =
    toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabV)

  /** X37 — vocabulary coverage / OOV rate: per document, the share of
    * tokens outside the corpus's own top-V vocabulary — the tokenizer
    * coverage check a pipeline runs before committing to a vocab
    * budget (high OOV ⇒ the tokenizer will shred those documents into
    * bytes/unknowns; OOV-rate outliers are also a junk signal).
    *
    * Scale shape (100 TB): the vocab dictionary comes from its own
    * cheap pass (the X17 df-dictionary pattern) and is bounded by V —
    * a plan constant — so its join side auto-broadcasts with no hint;
    * the token stream aggregates per doc with map-side partials.
    * The top-V build itself is a bounded TakeOrderedAndProject here;
    * over an UNBOUNDED vocabulary it is exactly the X22 problem — at
    * that scale swap in the certified Misra–Gries path (same module)
    * for the dictionary build; the per-doc coverage join is unchanged.
    */
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = topVocab(toks)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(vocab, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") * 100 / col("n_tokens"), 4).as("oov_pct"))
      .orderBy("doc_id")
  }

  /** X40 — source-similarity matrix: cosine between per-source token
    * distributions over the top-V vocabulary — the redundant-source
    * diagnostic a curation pipeline runs before mixing (two mirrors
    * of the same crawl show up as cosine ≈ 1, and X38's cap or X25's
    * weights then treat them as one source, not two).
    *
    * Scale shape (100 TB): the corpus collapses FIRST — one
    * (source, tok) count aggregate with map-side partials, restricted
    * to the top-V dictionary (the X37 vocab, so the profile matrix is
    * |sources| × V by construction, plan constants both) — and all
    * pairwise work runs over that tiny matrix: a tok-keyed self-join
    * of ≤ |sources|·V rows, then a (src_a, src_b)-keyed aggregate.
    * Nothing pairwise ever touches documents. Cosine terms are exact
    * integer products summed over ≤ V doubles — identical IEEE in
    * both engines.
    */
  private def sourceSim(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val vocab = topVocab(toks)
      .select(col("tok"))
    val prof = toks.join(vocab, Seq("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
    val norm = prof.groupBy(col("source"))
      .agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
    val a = prof.select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
    val b = prof.select(col("source").as("src_b"), col("tok"), col("c").as("cb"))
    a.join(b, Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"))
      .join(norm.select(col("source").as("src_a"), col("nrm").as("na")), Seq("src_a"))
      .join(norm.select(col("source").as("src_b"), col("nrm").as("nb")), Seq("src_b"))
      .select(
        col("src_a"), col("src_b"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cos_sim"))
      .orderBy("src_a", "src_b")
  }

  /** Merge steps the BPE learner runs — operator config (a real
    * tokenizer trains tens of thousands; 10 keeps the oracle's
    * generated CTE chain reviewable while exercising multi-character
    * merges on this corpus).
    */
  private[graft] val bpeMergeSteps = 10

  /** X41 — BPE vocabulary learning (the first N merge operations):
    * the canonical tokenizer-training job over a corpus. The classic
    * scale shape — and the one real BPE trainers use — is: ONE
    * distributed pass builds the (word, freq) table (map-side
    * partials; Heaps' law keeps the vocabulary ≪ corpus), then the
    * merge loop runs over that vocab-bounded WEIGHTED table: per
    * step, count adjacent symbol pairs (weighted by word frequency),
    * take the argmax pair — (count DESC, left ASC, right ASC), so
    * ties are engine-portable — and apply the merge to every word's
    * symbol string as TWO left-to-right non-overlapping `replace`
    * passes (identical semantics both engines; the second pass
    * recovers occurrences whose boundary space the first scan
    * consumed — see the loop body for why it can never over-merge).
    * Contract boundary, found by BpeMergeProps and an exhaustive
    * driver-side search: SELF-pairs (l = r) are excluded from the
    * argmax — over runs of one repeated symbol the replace scan and
    * the textbook scan pair occurrences differently (and can even
    * merge fewer on runs ≥ 6), and the textbook form needs regex
    * lookahead that DuckDB's RE2 lacks. With the exclusion the
    * operator is EXACTLY the textbook merge on every pair it can
    * select (property-pinned for every distinct pair); real corpora
    * essentially never pick a self-pair early, and this corpus's
    * output is identical with or without the exclusion. The driver
    * sees ONE row per step (the
    * argmax); the evolving symbol table stays cluster-side,
    * `localCheckpoint`ed per step so lineage doesn't chain N
    * replaces deep (the Lloyd/X21 iteration discipline).
    *
    * The oracle is the same loop UNROLLED: `bpeSql` generates the
    * 3-CTE step (pairs → argmax → apply) `bpeMergeSteps` times, so
    * every verify run pins the distributed loop ≡ the textbook
    * unrolled form — merge by merge, count by count. No end-of-word
    * marker (documented simplification; adding '</w>' is a one-line
    * change to the seed string on both sides).
    */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    learnedMerges(s, dir)
      .toDF("step", "l_sym", "r_sym", "pair_count").orderBy("step")
  }

  /** Session-memoized learned merge list (OPTIMIZATION r20): the X41
    * merge-learn loop — N bounded argmax collects plus N per-step
    * checkpoints of the vocab table — is identical for its three
    * declared consumers (`q_bpe_merges`, `q_bpe_encode`,
    * `q_tok_fertility`), and each used to re-run it at construction
    * (measured ~1.4 s × 3 per bench pass at sf0.1). The memo holds N
    * driver tuples (plan constants), nothing cluster-side.
    */
  private[graft] def learnedMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    SessionMemo(s, dir, "bpe_merges") {
      val wf = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      bpeMergesFrom(wf, bpeMergeSteps)
    }

  /** The merge loop itself, over any (word, freq) table — factored so
    * the spec can drive degenerate vocabularies. Stops early (fewer
    * than `steps` merges) when no adjacent pair remains — a library
    * caller's exhausted-vocabulary case, not an error.
    */
  private[graft] def bpeMergesFrom(wf: DataFrame, steps: Int): Seq[(Long, String, String, Long)] = {
    var cur = wf
      .select(col("freq"), concat(lit(" "),
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), " "),
        lit(" ")).as("str"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    // r20: checkpoint every third merge instead of every merge — each
    // eager localCheckpoint is a blocking job, and a ≤6-deep codegen'd
    // replace chain re-run by the next argmax scan is far cheaper than
    // the job it saves; lineage stays bounded either way.
    var sinceCkpt = 0
    while (step <= steps && !exhausted) {
      val best = cur
        .select(col("freq"), split(trim(col("str")), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .filter(col("p.l") =!= col("p.r")) // self-pairs excluded, see scaladoc
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step.toLong, l, r, c))
        // replace TWICE: one left-to-right non-overlapping pass skips
        // every second occurrence of a consecutive run (the match
        // consumes the boundary space the next occurrence needs), so a
        // second pass completes the textbook simultaneous merge. It
        // can never over-merge: the replacement token 'lr' differs
        // from both l and r, so a pass cannot form a NEW occurrence
        // of the same pair — only recover a skipped one.
        // Column-API replace with lit() patterns: corpus symbols carrying
        // quotes/backslashes must reach the engine as data, never as SQL text.
        val (pat, rep) = (lit(s" $l $r "), lit(s" $l$r "))
        cur = cur
          .withColumn("str", replace(replace(col("str"), pat, rep), pat, rep))
        sinceCkpt += 1
        if (sinceCkpt >= 3) { cur = cur.localCheckpoint(); sinceCkpt = 0 }
        step += 1
      }
    }
    merges.toSeq
  }

  /** The merge-derivation CTE prefix shared by the X41 oracle and the
    * X44 encode oracle: word freqs, the char-spaced seed, and the
    * unrolled (pairs → argmax → apply) chain producing b1..bN (the
    * merge chosen at each step) and s1..sN (the vocab after it).
    * Every s_k is referenced TWICE (by p_{k+1} and s_{k+1}) and, in
    * the encode chain, every b_k twice (s_k and e_k) — without
    * `AS MATERIALIZED` DuckDB inlines each reference and the chain
    * recomputes its prefix 2^N times (the q_pca_power 11-min trap;
    * measured 72 s on q_bpe_encode at sf0.01 before r15 fixed it).
    */
  private def bpeStepCtes: String = {
    val steps = (1 to bpeMergeSteps).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, string_split(trim(str), ' ') AS syms FROM s${k - 1}) t,
         |       LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT $k AS step, l, r, c FROM p$k WHERE l <> r ORDER BY c DESC, l, r LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT freq, replace(replace(str, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |                       ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS str
         |  FROM s${k - 1}, b$k b)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT freq, ' ' || array_to_string(
       |    list_transform(generate_series(1, len(word)), i -> word[i]), ' ') || ' ' AS str
       |  FROM wf),
       |$steps""".stripMargin
  }

  private def bpeSql: String = {
    val union = (1 to bpeMergeSteps).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ")
    s"""WITH $bpeStepCtes
       |SELECT CAST(step AS BIGINT) AS step, l AS l_sym, r AS r_sym, c AS pair_count
       |FROM ($union) ORDER BY step""".stripMargin
  }

  /** The X44 encode oracle: derive the merges (shared CTEs), then
    * replay them in order over every WORD INSTANCE of every document
    * — e0 is the char-spaced instance table, e_k applies merge k with
    * the same two-pass replace — and count surviving symbols per doc.
    */
  /** Shared encode-side CTE chain (learn CTEs + per-word-instance
    * merge replay), reused by the X44 per-doc oracle and the X70
    * per-language fertility oracle on top of it.
    */
  private def bpeEncodeCtes: String = {
    val applies = (1 to bpeMergeSteps).map { k =>
      s"""e$k AS (
         |  SELECT doc_id,
         |    replace(replace(str, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
         |            ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS str
         |  FROM e${k - 1}, b$k b)""".stripMargin
    }.mkString(",\n")
    s"""$bpeStepCtes,
       |e0 AS (
       |  SELECT doc_id, ' ' || array_to_string(
       |    list_transform(generate_series(1, len(word)), i -> word[i]), ' ') || ' ' AS str
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t),
       |$applies""".stripMargin
  }

  private def bpeEncodeSql: String =
    s"""WITH $bpeEncodeCtes
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(trim(str), ' '))) AS BIGINT) AS n_bpe_tokens
       |FROM e$bpeMergeSteps GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** X44 — BPE ENCODE: apply the X41-learned merges to the corpus,
    * the tokenizer-application pass a training pipeline runs over
    * every document after the vocabulary is fixed. Learning runs once
    * (the [[bpeMergesFrom]] driver loop — N bounded 1-row collects);
    * encoding then replays the N merges IN LEARNED ORDER over every
    * word instance as a chain of 2N codegen'd `replace`es in a single
    * projection (two passes per merge complete consecutive runs, the
    * X41 discipline) — per-row narrow work, no join against a merge
    * table, because the merges are literals by the time the encode
    * plan is built. Output is the per-document token count after
    * merging, the number a batch-size/cost planner actually needs.
    *
    * Scale shape: one corpus scan for learning's word-freq table
    * (vocab-bounded agg), one for encoding; the encode side's only
    * shuffle is the final per-doc count. The merge list rides the
    * closure (N strings), never a broadcast table.
    */
  /** Per-doc (doc_id, n_words, n_bpe_tokens) after replaying the
    * learned merges — the encode core shared by X44 (per-doc counts)
    * and X70 (per-language fertility aggregate).
    */
  private def bpeEncodedPerDoc(s: SparkSession, dir: String): DataFrame = {
    val merges = learnedMerges(s, dir)
    val seed = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("str", concat(lit(" "),
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), " "),
        lit(" ")))
    val encoded = merges.foldLeft(seed) { case (df, (_, l, r, _)) =>
      val (pat, rep) = (lit(s" $l $r "), lit(s" $l$r "))
      df.withColumn("str", replace(replace(col("str"), pat, rep), pat, rep))
    }
    encoded
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(split(trim(col("str")), " "))).as("n_bpe"))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("n_bpe").cast("long").as("n_bpe_tokens"))
  }

  private def bpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodedPerDoc(s, dir).orderBy("doc_id")

  /** X70 — tokenizer fertility per language (`q_tok_fertility`): the
    * standard tokenizer-evaluation table (fertility = subword tokens
    * per whitespace word; compression = chars per subword token) that
    * decides whether a vocabulary under-serves a language — a
    * high-fertility language pays more sequence length per sentence
    * and effectively trains on less text (the multilingual-tokenizer
    * fairness number reported since mBERT/XLM-R). Composes the X44
    * encode (X41-learned merges replayed as literal `replace` chains)
    * with a per-language aggregate over exact integer totals.
    *
    * Numerics: Σtokens, Σwords, Σchars are exact BIGINTs, so both
    * ratios are exact rationals rounded 4dp IN INTEGER SPACE
    * ((2·10⁴·num + den) div (2·den), the X58/X51 HALF_UP discipline)
    * — no float exists anywhere in this operator.
    *
    * Scale shape: the encode side is X44's (narrow literal replay,
    * one doc-keyed agg); this adds a broadcast-sized doc→lang join
    * column (in a real run lang rides the same row, zero join) and a
    * |languages|-row final aggregate with map-side partials.
    */
  private def tokFertility(s: SparkSession, dir: String): DataFrame = {
    val perDoc = bpeEncodedPerDoc(s, dir)
    val meta = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    perDoc.join(meta, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).as("sw"),
        sum(col("n_bpe_tokens")).as("sb"),
        sum(col("n_chars")).as("sc"))
      .select(col("lang"), col("n_docs"),
        col("sb").cast("long").as("n_bpe_tokens"),
        Extensions.share4("sb", "sw").as("fertility"),
        Extensions.share4("sc", "sb").as("chars_per_token"))
      .orderBy("lang")
  }

  private def tokFertilitySql: String =
    s"""WITH $bpeEncodeCtes,
       |enc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(len(string_split(trim(str), ' '))) AS BIGINT) AS n_bpe
       |  FROM e$bpeMergeSteps GROUP BY doc_id),
       |j AS (
       |  SELECT d.lang, e.n_words, e.n_bpe, d.n_chars
       |  FROM enc e JOIN documents d USING (doc_id)),
       |a AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_words) AS BIGINT) AS sw,
       |    CAST(sum(n_bpe) AS BIGINT) AS sb,
       |    CAST(sum(n_chars) AS BIGINT) AS sc
       |  FROM j GROUP BY lang)
       |SELECT lang, n_docs, sb AS n_bpe_tokens,
       |  CAST((20000 * sb + sw) // (2 * sw) AS DOUBLE) / 10000.0 AS fertility,
       |  CAST((20000 * sc + sb) // (2 * sb) AS DOUBLE) / 10000.0 AS chars_per_token
       |FROM a ORDER BY lang""".stripMargin

  /** X51 — per-source KL divergence from the corpus token
    * distribution: D(p_source ‖ p_corpus) over the top-V vocabulary —
    * the source ANOMALY diagnostic complementing X40's pairwise
    * cosine (X40 asks "which sources duplicate each other"; this
    * asks "which source doesn't look like the corpus at all" —
    * machine-generated feeds, wrong-language crawls, templated spam
    * all surface as KL outliers before any pairwise work).
    *
    * Numerics: each term p·ln(p/q) is computed from
    * correctly-rounded IEEE ops on exact integer counts, snapped to
    * 1e-6 fixed point, then SUMMED AS INTEGERS — order-independent
    * (the X48 discipline; a double sum would be partition-order
    * dependent). p = 0 terms contribute 0 by absence; q = 0 is
    * impossible (the corpus marginal dominates every source).
    *
    * Scale shape: identical to X40 — the corpus collapses to the
    * |sources| × V profile first (map-side partials, V-bounded
    * broadcast vocab join), and every KL term computes on that tiny
    * matrix; the 1-row corpus total is a window over the V-row
    * marginal, not a join.
    */
  private def sourceKl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val vocab = topVocab(toks)
      .select(col("tok"))
    val prof = toks.join(vocab, Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ci = prof.groupBy(col("tok")).agg(sum(col("c")).as("ci"))
      .withColumn("tc", sum(col("ci")).over(wAll))
    val ts = prof.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val p = col("c").cast("double") / col("ts")
    val q = col("ci").cast("double") / col("tc")
    prof.join(ci, Seq("tok")).join(ts, Seq("source"))
      .select(col("source"), col("ts"),
        round(lit(1000000.0) * p * log(p / q), 0).cast("long").as("term"))
      .groupBy(col("source"), col("ts"))
      .agg(sum(col("term")).as("t6"))
      // round-4 in INTEGER space (the q_dsir_weights discipline): the
      // total is an exact count of 1e-6 units, and a double round of
      // total/1e6 flips engines whenever the total ends in 50; HALF_UP
      // on the integer is portable by construction. KL ≥ 0 only holds
      // over the FULL support — the top-V truncation can make a
      // source's restricted sum slightly negative, so the sign branch
      // stays.
      .select(col("source"), col("ts").cast("long").as("n_vocab_toks"),
        ((floor((abs(col("t6")) + 50) / 100)
          * when(col("t6") < 0, -1).otherwise(1)).cast("long") / lit(10000.0)).as("kl"))
      .orderBy("source")
  }

  /** Count–min geometry for the declared query: depth 4 (δ ≈ e⁻⁴),
    * width 256 — deliberately NARROWER than this corpus's vocabulary
    * so collisions actually occur and the overcount column is
    * non-vacuous (ε = e/256 ≈ 1% of corpus mass; a deployment sizes
    * width to its ε the usual way).
    */
  private val cmsDepth = 4
  private val cmsWidth = 256
  private val cmsTopN = 20

  /** X46 — count–min sketch frequency estimation: the one-pass
    * constant-memory answer to "how frequent is token t" at corpus
    * scale, companion to the X22 Misra–Gries top-K (which finds the
    * heavy tokens but cannot be queried for an arbitrary one). The
    * sketch aggregates through [[graft.functions.CmsSketch]] — a
    * depth×width counter grid, map-side partial merge by elementwise
    * addition, NO vocabulary-keyed shuffle — and the declared query
    * reads estimates for the top-[[cmsTopN]] tokens next to their
    * exact counts, materializing the CMS guarantee (est ≥ exact,
    * overcount bounded) as data.
    *
    * The oracle recomputes the SAME counters relationally (group
    * token counts by (row, bucket), sum) — valid because CMS merge is
    * pure addition, so the one-pass sketch is bit-identical to the
    * relational definition regardless of partitioning (unlike MG,
    * whose counters are order-dependent once a decrement fires).
    *
    * Scale shape: one corpus scan feeds both the sketch (constant
    * memory) and the exact top-K (token-keyed agg + distributed
    * top-K; at 100 TB a deployment swaps this presentation side for
    * the MG candidates + recount — the sketch side is already the
    * scale path). The 1-row sketch joins back by broadcast.
    */
  private def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(explode(split(col("text"), " ")).as("tok"))
    val sk = toks.agg(
      call_function("graft_cms", col("tok"), lit(cmsDepth), lit(cmsWidth)).as("counters"))
    val wf = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(cmsTopN)
    val est = least((0 until cmsDepth).map { j =>
      element_at(col("counters"),
        ((h32(concat(lit(s"cms$j"), col("tok"))) % cmsWidth) + lit(j * cmsWidth) + 1)
          .cast("int"))
    }: _*)
    wf.crossJoin(broadcast(sk)) // exactly 1 row by construction
      .select(col("tok"), col("freq").cast("long").as("freq"),
        est.cast("long").as("cms_est"),
        (est - col("freq")).cast("long").as("overcount"))
      .orderBy(col("freq").desc, col("tok").asc)
  }

  /** Points fitted by the Zipf regression — the distribution head,
    * where rank is unambiguous; deep-tail ranks are tie-dominated and
    * carry no slope information.
    */
  private val zipfTopN = 100

  /** X48 — Zipf power-law fit: how closely the corpus's token
    * frequencies follow freq ∝ rank^s, the standard
    * natural-language-ness diagnostic (natural text sits near
    * s ≈ −1; templated or synthetic corpora drift flat or steep).
    * OLS of ln(freq) on ln(rank) over the top-[[zipfTopN]] tokens,
    * in CLOSED FORM from five aggregates — no iterative fitting.
    *
    * Float discipline: ln values are snapped to 1e-6 fixed point
    * (round · 1e6 → BIGINT), so every SUM is integer-exact and
    * order-independent — a double sum would be partition-order
    * dependent in Spark and engine-order dependent in the oracle.
    * Slope and intercept are then a fixed sequence of
    * correctly-rounded IEEE double ops over identical integers, so
    * both engines produce bit-identical results before the round-4.
    *
    * Scale shape: one token-count aggregate (map-side partials), a
    * distributed top-K (TakeOrderedAndProject — no global sort
    * materializes the vocab), a 100-row window, and a scalar
    * aggregate. Corpus-proportional work is exactly the one
    * token-count pass.
    */
  private def zipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy().orderBy(col("freq").desc, col("tok").asc)
    val pts = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(zipfTopN)
      .withColumn("rnk", row_number().over(w))
      .select(
        round(log(col("rnk").cast("double")) * 1000000, 0).cast("long").as("x"),
        round(log(col("freq").cast("double")) * 1000000, 0).cast("long").as("y"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    pts
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        col("n").cast("long").as("n_pts"),
        round(num / den, 4).as("slope"),
        round(col("sy") / (col("n") * lit(1000000.0))
          - (num / den) * (col("sx") / (col("n") * lit(1000000.0))), 4).as("ln_intercept"))
      .orderBy("n_pts")
  }

  /** X95 nested-prefix thresholds over the 2²⁰ hash-uniform domain:
    * halving bands 2²⁰ ≫ k for k = 8..0 — powers of two so every
    * threshold is exact in integer space (10⁶ does not halve evenly
    * past 2⁶).
    */
  private[graft] val heapsThresholds: Seq[Long] = (8 to 0 by -1).map(k => 1048576L >> k)

  /** X95 — vocabulary growth / Heaps'-law fit (`q_vocab_growth`): the
    * scaling-law question a 100 TB acquisition decision actually asks
    * — "how much NEW vocabulary does 10× more data buy?" — answered
    * by fitting V(n) = K·nᵝ over nested corpus prefixes. X80 measures
    * the unseen mass AT the current size (Good–Turing: how saturated
    * are we); X95 fits the growth CURVE (how fast does saturation
    * approach). The fit unit is the word-3-gram vocabulary (the dedup
    * family's shingle space): this corpus's 31-word token vocabulary
    * saturates after ~50 docs, a degenerate β ≈ 0, while the ~30k
    * combinatorial shingle space grows with a measurable sublinear
    * exponent — the regime real Heaps studies fit.
    *
    * The distributed trick is ORDER-FREE prefixes: instead of ranking
    * docs (a global sort) the "first n docs" are the docs whose
    * salted hash-uniform u < threshold, for nested power-of-two
    * thresholds — so prefix membership is a per-row filter, each
    * shingle's first-appearance prefix is just min(u) over its docs
    * (ONE shingle-keyed aggregate), and every checkpoint count is a
    * conditional sum. No window over anything corpus-sized; the ×9
    * checkpoint fan-out runs over the doc table and the ǀvocabǀ-row
    * min table, both collapsed before it. The OLS is X48's fixed-point
    * discipline: ln-values snapped to integer millionths, integer
    * sums, one fixed sequence of double ops — bit-identical engines.
    * Empty or shingle-free bands drop out (deterministically in both
    * engines) before the log.
    */
  private def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val thrArr = array(heapsThresholds.map(lit(_)): _*)
    val uOf = h32(concat(lit("heaps"), col("doc_id").cast("string"))) % 1048576L
    val nd = docs(s, dir).select(uOf.as("u"))
      .select(col("u"), explode(thrArr).as("chk"))
      .groupBy(col("chk"))
      .agg(sum(when(col("u") < col("chk"), 1L).otherwise(0L)).as("n_docs"))
    val tokMin = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(uOf.as("u"), explode(Dedup.word3grams(col("w"))).as("g"))
      .groupBy(col("g")).agg(min(col("u")).as("tu"))
    val vc = tokMin
      .select(col("tu"), explode(thrArr).as("chk"))
      .groupBy(col("chk"))
      .agg(sum(when(col("tu") < col("chk"), 1L).otherwise(0L)).as("vocab"))
    val pts = nd.join(vc, Seq("chk"))
      .filter(col("n_docs") > 0 && col("vocab") > 0)
      .select(col("chk"), col("n_docs"), col("vocab"),
        round(log(col("n_docs").cast("double")) * 1000000, 0).cast("long").as("x"),
        round(log(col("vocab").cast("double")) * 1000000, 0).cast("long").as("y"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val fit = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        when(den > 0, round(num / den, 4)).as("heaps_beta"),
        when(den > 0,
          round(col("sy") / (col("n") * lit(1000000.0))
            - (num / den) * (col("sx") / (col("n") * lit(1000000.0))), 4))
          .as("ln_intercept"))
    pts.crossJoin(broadcast(fit))
      .select(col("chk").cast("long").as("chk"),
        col("n_docs").cast("long").as("n_docs"),
        col("vocab").cast("long").as("vocab"),
        col("heaps_beta"), col("ln_intercept"))
      .orderBy(col("chk"))
  }

  private def vocabGrowthSql: String =
    s"""WITH d AS (
       |  SELECT ('0x' || substr(md5('heaps' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |           % 1048576 AS u
       |  FROM documents),
       |thr AS (SELECT unnest([${heapsThresholds.mkString(", ")}]) AS chk),
       |nd AS (
       |  SELECT chk, CAST(sum(CASE WHEN u < chk THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
       |  FROM d, thr GROUP BY chk),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
       |       FROM t WHERE len(w) >= 3),
       |g AS (
       |  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g,
       |    min(('0x' || substr(md5('heaps' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |        % 1048576) AS tu
       |  FROM ix GROUP BY 1),
       |vc AS (
       |  SELECT chk, CAST(sum(CASE WHEN tu < chk THEN 1 ELSE 0 END) AS BIGINT) AS vocab
       |  FROM g, thr GROUP BY chk),
       |pts AS (
       |  SELECT chk, n_docs, vocab,
       |    CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM nd JOIN vc USING (chk) WHERE n_docs > 0 AND vocab > 0),
       |f AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx
       |  FROM pts)
       |SELECT CAST(pts.chk AS BIGINT) AS chk, pts.n_docs, pts.vocab,
       |  CASE WHEN n * sxx - sx * sx > 0
       |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 4) + 0
       |       END AS heaps_beta,
       |  CASE WHEN n * sxx - sx * sx > 0
       |       THEN round(sy / (n * 1000000.0)
       |         - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
       |           * (sx / (n * 1000000.0)), 4) + 0
       |       END AS ln_intercept
       |FROM pts, f ORDER BY chk""".stripMargin

  /** X56 — per-source distribution drift: the exact two-sample
    * Kolmogorov–Smirnov statistic between each source's document-length
    * distribution and the whole corpus's — the scalar monitor a
    * production pipeline alarms on when a crawl source silently changes
    * shape (truncation bugs, template switches, paywall stubs all move
    * the length ECDF long before they move mean length). Complements
    * X51: KL sees token-CONTENT drift, this sees size/shape drift.
    *
    * Exactness: sup|F_s − F_all| over a STEP function pair is attained
    * at a jump point of either sample, and every corpus jump between
    * two consecutive source jumps is dominated by the left-limit
    * evaluation at the next source jump — so evaluating both F(v) and
    * F(v⁻) at the SOURCE's jump points only is exact, with no
    * source×grid expansion (and no cartesian, per the house plan
    * audit). Differences are computed as cross-multiplied exact
    * integers |cum_s·N − cum_all·n_s| (no float until one final
    * divide), so the max is engine-portable by construction.
    *
    * Scale shape: the corpus collapses FIRST to the per-(source,
    * length) count matrix — |sources| × |distinct lengths|, bounded by
    * max document length, not by corpus size (the X40/X51 collapse
    * discipline); every window below runs on that tiny matrix. The
    * corpus-marginal windows are single-task over ≤|distinct lengths|
    * rows — a plan constant, documented like q_source_kl's.
    */
  private def sourceDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs(s, dir).groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cv = m.groupBy(col("n_chars")).agg(sum(col("c")).as("cv"))
      .withColumn("cum_all",
        sum(col("cv")).over(Window.partitionBy().orderBy(col("n_chars"))))
      .withColumn("n_total", sum(col("cv")).over(wAll))
    val ms = m
      .withColumn("cum_s",
        sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("n_chars"))))
      .withColumn("n_s",
        sum(col("c")).over(Window.partitionBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val atV = abs(col("cum_s") * col("n_total") - col("cum_all") * col("n_s"))
    val atVMinus = abs((col("cum_s") - col("c")) * col("n_total")
      - (col("cum_all") - col("cv")) * col("n_s"))
    // Final round-4 in INTEGER space (r13 ADVICE — the q_dsir_weights/
    // q_source_kl discipline applied here too): ks_num/(n_s*n_total) is
    // an exact rational that can land on a decimal .xxxx5 tie where
    // Spark's BigDecimal HALF_UP and DuckDB's double round diverge.
    // q4 = (2*10000*ks_num + den) div (2*den) is HALF_UP by
    // construction; DECIMAL(38,0) carries the cross-multiplied
    // intermediate (n_s*n_total alone overflows BIGINT at ~1e10 docs).
    ms.join(cv, "n_chars")
      .groupBy(col("source"), col("n_s"))
      .agg(max(greatest(atV, atVMinus)).as("ks_num"),
        max(col("n_total")).as("n_total"))
      .withColumn("q4", expr(Extensions.sq4(
        "CAST(ks_num AS DECIMAL(38,0))", "CAST(n_s AS DECIMAL(38,0)) * n_total")))
      .select(col("source"), col("n_s").cast("long").as("n_docs"),
        (col("q4") / lit(10000.0)).as("ks"))
      .orderBy("source")
  }

  /** X80 — per-source vocabulary saturation (`q_vocab_saturation`):
    * the "will more crawl buy new words?" planning numbers, via two
    * published estimators computed EXACTLY from the frequency-of-
    * frequencies: Good–Turing's missing mass P₀ = N₁/N (the
    * probability the NEXT token is an unseen type — Good 1953; the
    * saturation dial data-constrained scaling reads), and the
    * bias-corrected Chao1 richness floor V + N₁(N₁−1)/(2(N₂+1))
    * (Chao 1984/1987 — a lower bound on the TRUE vocabulary the
    * source would reveal at infinite sampling; the +1 correction
    * makes it total when doubletons are absent, so no divide-by-zero
    * branch exists). A source with high P₀ / chao1 ≫ V is still
    * yielding vocabulary; one with P₀ ≈ 0 is saturated and more of
    * it buys repetition — X74's epoch allocator and X25's mixing
    * weights read exactly this distinction.
    *
    * Scale shape: the exact path is two aggregates — the (source,
    * tok) vocabulary collapse (map-side partials absorb the Zipf
    * head, the same shape as the green q_doc_freq/q_ngram_freq) and
    * the |sources|-row frequency-of-frequencies rollup; nothing
    * after the first shuffle exceeds vocabulary cardinality, and
    * nothing anywhere is corpus-pairwise. The X22/X46 sketches
    * remain the sub-vocabulary-memory companions; hapax/doubleton
    * COUNTS are exactly what sketches cannot deliver (every hapax
    * is by definition below any sketch threshold), so the exact
    * vocab aggregate is the honest cost of this operator.
    *
    * Numerics: all counts integer; both ratios round-4 by integer
    * HALF_UP (the X51 discipline); N₁² rides DECIMAL(38,0) (a 10⁹
    * hapax vocabulary squares past BIGINT — the X63 lesson).
    */
  private def vocabSaturation(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_doubleton"))
      .withColumn("q4u", expr(Extensions.sq4(
        "CAST(n_hapax AS DECIMAL(38,0))", "CAST(n_tokens AS DECIMAL(38,0))")))
      .withColumn("q4c", expr(Extensions.sq4(
        "CAST(n_hapax AS DECIMAL(38,0)) * (n_hapax - 1)",
        "2 * (CAST(n_doubleton AS DECIMAL(38,0)) + 1)")))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("n_hapax"), col("n_doubleton"),
        (col("q4u") / lit(10000.0)).as("unseen_mass"),
        (col("vocab").cast("double") + col("q4c") / lit(10000.0)).as("chao1"))
      .orderBy("source")
  }

  private def vocabSaturationSql: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (
      |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM t GROUP BY source, tok),
      |a AS (
      |  SELECT source,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_doubleton
      |  FROM v GROUP BY source)
      |SELECT source, n_tokens, vocab, n_hapax, n_doubleton,
      |  CAST((20000 * CAST(n_hapax AS HUGEINT) + n_tokens)
      |       // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) / 10000.0 AS unseen_mass,
      |  CAST(vocab AS DOUBLE)
      |    + CAST((20000 * CAST(n_hapax AS HUGEINT) * (n_hapax - 1)
      |            + 2 * (CAST(n_doubleton AS HUGEINT) + 1))
      |           // (4 * (CAST(n_doubleton AS HUGEINT) + 1)) AS BIGINT) / 10000.0 AS chao1
      |FROM a ORDER BY source""".stripMargin

  /** X82 — per-document character entropy (`q_char_entropy`): the
    * classic information-theoretic gibberish screen — Shannon entropy
    * in bits over the doc's character distribution. Base64 blobs and
    * hex dumps sit near log₂ǀalphabetǀ (high), keyboard-mash and
    * repeated-char padding sit low, prose clusters in a band — the
    * signal the X73 rule cascade can't see (all four rules are
    * token-level; a doc of 50 distinct gibberish "words" passes every
    * one). Complements X20's token repetition the same way X79
    * complements X71: distribution, not top-1.
    *
    * Numerics — X51's fixed-point discipline verbatim: exact integer
    * (doc, char) counts; each (c/n)·log₂(n/c) term from correctly-
    * rounded IEEE ops on those integers, snapped to 1e-6, summed AS
    * INTEGERS (order-free), final round-4 HALF_UP in integer space
    * (terms are ≥ 0 — c ≤ n — so no sign branch). Spaces count as
    * characters (documented; the separator carries real information
    * about token-length structure).
    *
    * Scale shape: split('') is ONE linear pass per doc (an indexed
    * substring loop would re-scan UTF-8 from the start per char —
    * quadratic on long docs, the r9 trap's CPU twin); then the
    * (doc, char) collapse with map-side partials — bounded at
    * ǀalphabetǀ rows per doc — and a doc-keyed window over that
    * ≤ǀalphabetǀ stream (the q_dup_fraction "windows stay doc-keyed"
    * rule; never corpus-wide). Empty docs are filtered identically in
    * both engines (split('') of '' is [] in Spark but [''] in DuckDB
    * — the one divergent edge).
    */
  /** The X82 body over an arbitrary (doc_id, text) frame — factored
    * so the composed pipeline can ride the same arithmetic on its
    * stripped corpus (the withRuleFlags precedent).
    */
  private[graft] def charEntropyFrom(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    d.filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("term", round(
        lit(1000000.0) * (col("c").cast("double") / col("n"))
          * log(col("n").cast("double") / col("c")) / log(lit(2.0)), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_chars"),
        count(lit(1)).cast("long").as("n_distinct_chars"),
        sum(col("term")).as("st"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        (floor((col("st") + lit(50)) / lit(100)).cast("long") / lit(10000.0))
          .as("entropy_bits"))
  }

  private def charEntropy(s: SparkSession, dir: String): DataFrame =
    charEntropyFrom(docs(s, dir).select(col("doc_id"), col("text"))).orderBy("doc_id")

  /** The X82 chain as DuckDB CTEs over `$from(doc_id, text)` — the
    * oracle-side twin of [[charEntropyFrom]], ending in
    * `ent(doc_id, n_chars, n_distinct_chars, entropy_bits)`.
    */
  private[graft] def charEntropyCteSql(from: String): String =
    s"""ech AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM $from WHERE len(text) >= 1),
       |ec AS (
       |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
       |  FROM ech GROUP BY doc_id, ch),
       |ew AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM ec),
       |et AS (
       |  SELECT doc_id, n,
       |    CAST(round(1000000.0 * (CAST(c AS DOUBLE) / n)
       |      * ln(CAST(n AS DOUBLE) / c) / ln(2.0), 0) AS BIGINT) AS term
       |  FROM ew),
       |ent AS (
       |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
       |    CAST(count(*) AS BIGINT) AS n_distinct_chars,
       |    CAST(floor((sum(term) + 50) / 100) AS BIGINT) / 10000.0 AS entropy_bits
       |  FROM et GROUP BY doc_id)""".stripMargin

  private def charEntropySql: String =
    s"""WITH ${charEntropyCteSql("documents")}
       |SELECT doc_id, n_chars, n_distinct_chars, entropy_bits
       |FROM ent ORDER BY doc_id""".stripMargin

  /** X86 — one-row corpus datasheet (`q_corpus_card`): the summary
    * table a dataset card / Dolma-style report leads with, as ONE
    * query — docs, sources, languages, token and char volume, mean
    * doc length, vocabulary size with its hapax share (X80's
    * saturation numerator), and the share of docs passing every X73
    * rule. Each number exists in some per-group operator already;
    * the card is the artifact a release pipeline publishes, so it is
    * declared as its own row rather than left to a dashboard to
    * re-derive.
    *
    * Scale shape: one narrow pass with the X73 in-row flags feeding
    * a single global aggregate (the two countDistincts expand over
    * plan-constant-cardinality columns), plus the (tok) vocabulary
    * collapse (the X80 shape) reduced to one row — the two 1-row
    * frames meet in the sanctioned broadcast nested loop. Ratios
    * round 4dp in integer space.
    */
  private def corpusCard(s: SparkSession, dir: String): DataFrame = {
    val base = Curation.withRuleFlags(
      docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text")))
    val a = base.groupBy().agg(
      count(lit(1)).cast("long").as("n_docs"),
      countDistinct(col("source")).cast("long").as("n_sources"),
      countDistinct(col("lang")).cast("long").as("n_langs"),
      sum(col("n_words")).cast("long").as("n_tokens"),
      sum(col("n_chars")).cast("long").as("n_chars"),
      sum(when(col("n_failed") === 0, 1L).otherwise(0L)).cast("long").as("n_rule_clean"))
    val b = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .groupBy().agg(
        count(lit(1)).cast("long").as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
    a.crossJoin(broadcast(b))
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_tokens"), col("n_chars"),
        (expr("(20000 * n_tokens + n_docs) div (2 * n_docs)").cast("double") / 10000.0)
          .as("mean_doc_tokens"),
        col("vocab_size"), col("n_hapax"),
        (expr("(2000000 * n_rule_clean + n_docs) div (2 * n_docs)").cast("double") / 10000.0)
          .as("pct_rule_clean"))
  }

  private def corpusCardSql: String = {
    val stopList = Curation.ruleStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH rt AS (SELECT doc_id, source, lang, n_chars, string_split(text, ' ') AS w
       |  FROM documents),
       |rf AS (
       |  SELECT source, lang, n_chars, CAST(len(w) AS BIGINT) AS n,
       |    CAST(4 - CASE WHEN len(w) >= 20 AND len(w) <= 80 THEN 1 ELSE 0 END
       |           - CASE WHEN 3 * len(w) <= list_sum(list_transform(w, x -> len(x)))
       |                   AND 2 * list_sum(list_transform(w, x -> len(x))) <= 9 * len(w)
       |                  THEN 1 ELSE 0 END
       |           - CASE WHEN len(list_intersect(list_distinct(w), $stopList)) >= 2
       |                  THEN 1 ELSE 0 END
       |           - CASE WHEN 5 * list_max(list_transform(list_distinct(w),
       |                    t -> len(list_filter(w, x -> x = t)))) <= len(w)
       |                  THEN 1 ELSE 0 END AS BIGINT) AS n_failed
       |  FROM rt),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(sum(n) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_clean
       |  FROM rf),
       |v AS (
       |  SELECT tok, count(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY tok),
       |b AS (
       |  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM v)
       |SELECT n_docs, n_sources, n_langs, n_tokens, n_chars,
       |  CAST((20000 * n_tokens + n_docs) // (2 * n_docs) AS BIGINT) / 10000.0
       |    AS mean_doc_tokens,
       |  vocab_size, n_hapax,
       |  CAST((2000000 * n_rule_clean + n_docs) // (2 * n_docs) AS BIGINT) / 10000.0
       |    AS pct_rule_clean
       |FROM a, b""".stripMargin
  }

  /** X101 — term burstiness / dispersion (`q_burstiness`): Gries'
    * deviation of proportions DP = ½ Σₛ |c_ws/c_w − Tₛ/T| per token —
    * the corpus-linguistics number that separates a term USED
    * EVERYWHERE (DP ≈ 0: its occurrences track each source's share
    * of the corpus) from a BURSTY one concentrated in few sources
    * (DP → 1−Tₛ/T). Frequency alone can't make the distinction — a
    * token with c_w = 10 000 may be corpus glue or one crawl's
    * boilerplate — and the distinction is exactly what X25's mixing
    * weights and X38's caps want to know about the vocabulary:
    * high-DP high-frequency terms are the source-marker candidates
    * X101's output surfaces (`n_src` rides as evidence; a term
    * missing from a source contributes that source's full share, so
    * the sum runs over the COMPLETE V×S grid, zeros included —
    * dropping absent cells is the standard implementation mistake
    * and the spec pins a token that is absent somewhere).
    *
    * Numerics: fully integer — each grid term cross-multiplies to
    * |c_ws·T − Tₛ·c_w| (exact DECIMAL(38,0); T² at 10¹⁴ tokens is
    * 10²⁸, inside 38 digits with the ×20000 headroom), and DP =
    * num/(2·c_w·T) rounds 4dp by integer HALF_UP. Hash-identical by
    * construction.
    *
    * Scale shape: ONE corpus tokenize collapsed to the (source, tok)
    * matrix, materialized once (`localCheckpoint` — the q_pipeline
    * discipline; without it the three downstream consumers are three
    * separate corpus tokenizes, because the left-join branch's
    * pushed-down null filters break canonical exchange equality —
    * measured in this plan before the fix). Everything after reads
    * the V×S table: source totals are a ≤|S|-row broadcast (T via a
    * window over those ≤|S| rows — the dictionary-window
    * discipline); the grid is V×S rows — S is a plan-small
    * dictionary, so the grid is linear in vocabulary, and the final
    * aggregate shrinks it back to V. The corpus is read exactly
    * once; no corpus-sized join or window anywhere (PlanAuditSpec
    * pins the declared plan parquet-scan-free).
    */
  private def burstiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val st = docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ts = st.groupBy(col("source")).agg(sum(col("c")).as("t_s"))
      .withColumn("t_all", sum(col("t_s")).over(wAll))
    val cw = st.groupBy(col("tok"))
      .agg(sum(col("c")).as("c_w"), count(lit(1)).as("n_src"))
    cw.crossJoin(broadcast(ts))
      .join(st, Seq("tok", "source"), "left")
      .select(col("tok"), col("c_w"), col("n_src"), col("t_all"),
        expr("""abs(CAST(coalesce(c, 0) AS DECIMAL(38,0)) * t_all
               |    - CAST(t_s AS DECIMAL(38,0)) * c_w) AS term"""
          .stripMargin.replace("\n", " ")))
      .groupBy(col("tok"), col("c_w"), col("n_src"), col("t_all"))
      .agg(sum(col("term")).as("num"))
      .select(col("tok"), col("c_w").cast("long").as("c_w"),
        col("n_src").cast("long").as("n_src"),
        Extensions.share4("CAST(num AS DECIMAL(38,0))", "2 * CAST(c_w AS DECIMAL(38,0)) * t_all")
          .as("dp"))
      .orderBy("tok")
  }

  private def burstinessSql: String =
    """WITH st AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM st GROUP BY 1, 2),
      |ts AS (SELECT source, sum(c) AS t_s FROM c GROUP BY 1),
      |tt AS (SELECT sum(t_s) AS t_all FROM ts),
      |cw AS (SELECT tok, sum(c) AS c_w, count(*) AS n_src FROM c GROUP BY 1),
      |grid AS (
      |  SELECT cw.tok, cw.c_w, cw.n_src, tt.t_all,
      |    abs(CAST(COALESCE(x.c, 0) AS HUGEINT) * tt.t_all
      |        - CAST(ts.t_s AS HUGEINT) * cw.c_w) AS term
      |  FROM cw CROSS JOIN ts CROSS JOIN tt
      |  LEFT JOIN c x ON x.tok = cw.tok AND x.source = ts.source),
      |agg AS (
      |  SELECT tok, c_w, n_src, t_all, sum(term) AS num
      |  FROM grid GROUP BY 1, 2, 3, 4)
      |SELECT tok, CAST(c_w AS BIGINT) AS c_w, CAST(n_src AS BIGINT) AS n_src,
      |  CAST((num * 20000 + 2 * CAST(c_w AS HUGEINT) * t_all)
      |    // (4 * CAST(c_w AS HUGEINT) * t_all) AS DOUBLE) / 10000 AS dp
      |FROM agg ORDER BY tok""".stripMargin

  /** Dirichlet prior mass for X104 (pseudo-token total α₀): spread
    * over the vocabulary proportionally to corpus frequency — the
    * "informative prior" of Monroe et al. that keeps rare-word
    * log-odds from exploding.
    */
  private val logOddsPrior = 500L

  /** X104 — per-source distinctive terms (`q_distinctive`): Monroe,
    * Colaresi & Quinn's weighted log-odds with an informative
    * Dirichlet prior, z-scored — the statistically-honest version of
    * "what words characterize source s vs the rest of the corpus".
    * Raw frequency ratios overweight rare words and tf-idf has no
    * variance model; the published fix is the log-odds-ratio
    * δ = ln[(y_sw+α_w)/(n_s+α₀−y_sw−α_w)] −
    *     ln[(y_w−y_sw+α_w)/(n−n_s+α₀−(y_w−y_sw)−α_w)]
    * with σ² ≈ 1/(y_sw+α_w) + 1/(y_w−y_sw+α_w), z = δ/σ — the number
    * X40's similarity matrix and X51's KL can't give you: WHICH terms
    * drive a source apart, with sampling noise normalized out. A
    * curator greps this table when a source's KL spikes (X101's
    * burstiness says a term is concentrated; X104 says it is
    * concentrated HERE, significantly). Output per PRESENT (source,
    * token) cell: count, log-odds, z — consumers threshold z (the
    * absent-cell completion is X101's job; emitting V×S zeros as
    * rows would bloat output without adding ranking information).
    *
    * Numerics: with α_w = α₀·y_w/n, every ln argument is an exact
    * integer rational over the common denominator n (num₁ = y_sw·n +
    * α₀·y_w etc. in DECIMAL(38,0) — 10¹⁴ tokens squares to 10²⁸),
    * so both engines evaluate ln on IDENTICAL doubles (one division,
    * one libm log — the X48/X51 precedent) and snap to integer
    * millionths; δ is then exact integer arithmetic, log-odds rounds
    * 4dp by signed integer HALF_UP (the q_source_kl sign branch),
    * and z = (δ₆/10⁶)/√σ² is one fixed IEEE sequence rounded 4dp
    * (irrational — tie-free).
    *
    * Scale shape: the X101 discipline — ONE corpus tokenize collapsed
    * to the checkpointed (source, tok) matrix; token totals (vocab
    * join, map-side partials), ≤|S|-row broadcast source totals with
    * the dictionary-window n, all downstream work linear in the V×S
    * present cells. No corpus re-read, no corpus window
    * (PlanAuditSpec pins the declared plan parquet-scan-free).
    */
  private def distinctive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val st = docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ts = st.groupBy(col("source")).agg(sum(col("c")).as("t_s"))
      .withColumn("t_all", sum(col("t_s")).over(wAll))
    val cw = st.groupBy(col("tok")).agg(sum(col("c")).as("c_w"))
    val a0 = logOddsPrior
    val ln6 = (num: String, den: String) =>
      round(log(col(num).cast("double") / col(den).cast("double")) * 1000000.0)
        .cast("long")
    st.join(cw, "tok").join(broadcast(ts), "source")
      .withColumn("num1", expr(
        s"CAST(c AS DECIMAL(38,0)) * t_all + $a0 * CAST(c_w AS DECIMAL(38,0))"))
      .withColumn("den1", expr(
        s"(CAST(t_s AS DECIMAL(38,0)) + $a0) * t_all") - col("num1"))
      .withColumn("num2", expr(
        s"(CAST(c_w AS DECIMAL(38,0)) - c) * t_all + $a0 * CAST(c_w AS DECIMAL(38,0))"))
      .withColumn("den2", expr(
        s"(CAST(t_all AS DECIMAL(38,0)) - t_s + $a0) * t_all") - col("num2"))
      .withColumn("d6", ln6("num1", "den1") - ln6("num2", "den2"))
      .withColumn("v",
        col("t_all").cast("double") / col("num1").cast("double")
          + col("t_all").cast("double") / col("num2").cast("double"))
      .select(col("source"), col("tok"), col("c").cast("long").as("c"),
        ((floor((abs(col("d6")) + 50) / 100)
          * when(col("d6") < 0, -1).otherwise(1)).cast("long") / lit(10000.0))
          .as("logodds"),
        (round((col("d6") / lit(1000000.0)) / sqrt(col("v")), 4) + lit(0.0))
          .as("z"))
      .orderBy("source", "tok")
  }

  private def distinctiveSql: String = {
    val a0 = logOddsPrior
    """WITH st AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM st GROUP BY 1, 2),
      |ts AS (SELECT source, sum(c) AS t_s FROM c GROUP BY 1),
      |tt AS (SELECT sum(t_s) AS t_all FROM ts),
      |cw AS (SELECT tok, sum(c) AS c_w FROM c GROUP BY 1),
      |j AS (
      |  SELECT x.source, x.tok, x.c, cw.c_w, ts.t_s, tt.t_all,
      |    CAST(x.c AS HUGEINT) * tt.t_all + A0 * CAST(cw.c_w AS HUGEINT) AS num1,
      |    (CAST(ts.t_s AS HUGEINT) + A0) * tt.t_all
      |      - (CAST(x.c AS HUGEINT) * tt.t_all + A0 * CAST(cw.c_w AS HUGEINT)) AS den1,
      |    (CAST(cw.c_w AS HUGEINT) - x.c) * tt.t_all + A0 * CAST(cw.c_w AS HUGEINT) AS num2,
      |    (CAST(tt.t_all AS HUGEINT) - ts.t_s + A0) * tt.t_all
      |      - ((CAST(cw.c_w AS HUGEINT) - x.c) * tt.t_all + A0 * CAST(cw.c_w AS HUGEINT)) AS den2
      |  FROM c x JOIN cw USING (tok) JOIN ts USING (source) CROSS JOIN tt),
      |k AS (
      |  SELECT source, tok, c,
      |    CAST(round(ln(CAST(num1 AS DOUBLE) / CAST(den1 AS DOUBLE)) * 1000000) AS BIGINT)
      |      - CAST(round(ln(CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE)) * 1000000) AS BIGINT) AS d6,
      |    CAST(t_all AS DOUBLE) / CAST(num1 AS DOUBLE)
      |      + CAST(t_all AS DOUBLE) / CAST(num2 AS DOUBLE) AS v
      |  FROM j)
      |SELECT source, tok, CAST(c AS BIGINT) AS c,
      |  CAST((abs(d6) + 50) // 100 * (CASE WHEN d6 < 0 THEN -1 ELSE 1 END) AS BIGINT)
      |    / 10000.0 AS logodds,
      |  round((d6 / 1000000.0) / sqrt(v), 4) + 0 AS z
      |FROM k ORDER BY source, tok""".stripMargin.replace("A0", a0.toString)
  }

  /** X131's topic lexicons — small curated word lists over the corpus
    * vocabulary, the stand-in for the domain lexicons (medical, legal,
    * code, …) a production mixing pipeline ships. A doc belongs to a
    * topic when it contains ≥ [[topicMinHits]] DISTINCT lexicon words
    * (one stray word does not make a topic); membership is
    * multi-label by design — domain composition overlaps.
    */
  private[graft] val topicLexicons: ListMap[String, Seq[String]] = ListMap(
    "relational" -> Seq("join", "group", "agg", "sort", "filter"),
    "storage" -> Seq("table", "row", "column", "part"),
    "streaming" -> Seq("stream", "batch", "window"),
    "vector_search" -> Seq("vector", "hash", "key"))

  private[graft] val topicMinHits = 2

  /** X131's in-row topic flags: `__h_<topic>` is 1 when the doc's
    * distinct words hit ≥ [[topicMinHits]] words of the topic's
    * lexicon. With [[topicHitSums]], shared by [[topicMixOf]] and
    * `Gateway.topicFeed`.
    */
  private[graft] def withTopicHits(docs: DataFrame): DataFrame =
    topicLexicons.foldLeft(docs.withColumn("__tw", array_distinct(split(col("text"), " ")))) {
      case (df, (t, words)) =>
        df.withColumn(s"__h_$t",
          (size(array_intersect(col("__tw"), array(words.map(lit): _*)))
            >= topicMinHits).cast("long"))
    }

  /** The per-topic hit counts `h_<topic>` over [[withTopicHits]] rows. */
  private[graft] def topicHitSums: Seq[Column] =
    topicLexicons.keys.toSeq.map(t => sum(col(s"__h_$t")).as(s"h_$t"))

  /** X131 core — the (source × topic) composition grid off a
    * (source, text) frame. Factored so TextAnalysisSpec can drive the
    * membership threshold's both branches (1 lexicon word → no hit,
    * 2 → hit) and the absent-topic lift-0 convention on fixtures.
    *
    * ONE corpus pass computes every topic flag in-row (distinct-word
    * array intersect against the broadcast-literal lexicon) and
    * collapses to the ≤|sources| wide table — localCheckpointed
    * because each topic's unpivot branch re-reads it (|T| consumers,
    * the q_dedup_sweep lesson). The grid is COMPLETE by construction
    * (every source row emits every topic, zero hits included — the
    * X101 absent-cell rule); corpus marginals ride as windows
    * PARTITIONed by topic over the grid, a plan constant. share =
    * hits/n_s and lift = (hits·N_c)/(n_s·hits_c) are exact rationals
    * rounded 4dp HALF_UP in integer space (HUGEINT/DECIMAL(38,0)
    * cross-multiplies — 10¹⁴ docs × 10¹⁴ stays in range); a topic
    * absent from the whole corpus defines lift = 0.
    */
  private[graft] def topicMixOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wide = withTopicHits(docs).groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), topicHitSums: _*)
      .localCheckpoint(true)
    val grid = topicLexicons.keys.toSeq.map { t =>
      wide.select(col("source"), col("n_s"), lit(t).as("topic"),
        col(s"h_$t").as("hits"))
    }.reduce(_ unionByName _)
    val byTopic = Window.partitionBy(col("topic"))
    grid
      .withColumn("hc", sum(col("hits")).over(byTopic))
      .withColumn("nc", sum(col("n_s")).over(byTopic))
      .select(
        col("source"), col("topic"), col("hits").cast("long").as("n_docs"),
        Extensions.share4("hits", "n_s").as("share"),
        Extensions.share4("CAST(hits AS DECIMAL(38,0)) * nc", "CAST(n_s AS DECIMAL(38,0)) * hc")
          .as("lift"))
      .orderBy("source", "topic")
  }

  /** X131 — topic / domain composition (`q_topic_mix`): the table a
    * mixing pipeline reads before setting domain weights — per
    * (source, topic): docs matching the topic lexicon, the share of
    * the source they make, and the lift over the corpus rate (which
    * sources skew toward which domain). The complete grid, zero
    * cells included.
    */
  private def topicMix(s: SparkSession, dir: String): DataFrame =
    topicMixOf(Tables(s, dir, "documents").select(col("source"), col("text")))

  private def topicMixSql: String = {
    def lexList(ws: Seq[String]): String =
      ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val hitCols = topicLexicons.map { case (t, ws) =>
      s"""    sum(CASE WHEN len(list_intersect(w, ${lexList(ws)}))
         |        >= $topicMinHits THEN 1 ELSE 0 END) AS h_$t""".stripMargin
    }.mkString(",\n")
    val unpivot = topicLexicons.keys.map { t =>
      s"SELECT source, n_s, '$t' AS topic, h_$t AS hits FROM h"
    }.mkString("\nUNION ALL\n")
    s"""WITH wd AS (
       |  SELECT source, list_distinct(string_split(text, ' ')) AS w
       |  FROM documents),
       |h AS MATERIALIZED (
       |  SELECT source, count(*) AS n_s,
       |$hitCols
       |  FROM wd GROUP BY source),
       |g AS ($unpivot),
       |t AS (
       |  SELECT source, topic, hits, n_s,
       |    sum(hits) OVER (PARTITION BY topic) AS hc,
       |    sum(n_s) OVER (PARTITION BY topic) AS nc
       |  FROM g)
       |SELECT source, topic, CAST(hits AS BIGINT) AS n_docs,
       |  CAST((20000 * hits + n_s) // (2 * n_s) AS BIGINT) / 10000.0 AS share,
       |  CASE WHEN hc = 0 THEN 0.0
       |       ELSE CAST((20000 * CAST(hits AS HUGEINT) * nc
       |                  + CAST(n_s AS HUGEINT) * hc)
       |             // (2 * CAST(n_s AS HUGEINT) * hc) AS BIGINT) / 10000.0
       |  END AS lift
       |FROM t ORDER BY source, topic""".stripMargin
  }

  /** X133 core — per-source code-switching table off a (source, text)
    * frame. Factored so TextAnalysisSpec can drive engineered halves
    * (stopword-dense front + bare back → mixed), the odd-length split
    * convention (n=5 → first 2 words, last 3), and the n<2
    * ineligibility branch through the SAME machinery.
    *
    * Each doc splits into word-halves (first n DIV 2 words, rest);
    * each half gets the X9 language verdict (10·stop ≥ n_half ⇔ the
    * integer form of stopword-ratio ≥ 10% — no float can flip a
    * label); a doc is MIXED when its halves disagree. Docs under 2
    * words have no second half and are excluded. All in-row; one
    * exchange to the |sources| dictionary; share is an exact rational
    * rounded 4dp HALF_UP in integer space.
    */
  private[graft] def langMixOf(docsDf: DataFrame): DataFrame = {
    val stopArr = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    docsDf
      .withColumn("__w", split(col("text"), " "))
      .withColumn("__n", size(col("__w")).cast("long"))
      .filter(col("__n") >= 2)
      .withColumn("__h1", expr("slice(__w, 1, CAST(__n DIV 2 AS INT))"))
      .withColumn("__h2", expr(
        "slice(__w, CAST(__n DIV 2 AS INT) + 1, CAST(__n - __n DIV 2 AS INT))"))
      .withColumn("__e1", expr(
        s"10 * size(filter(__h1, x -> array_contains($stopArr, x))) >= size(__h1)"))
      .withColumn("__e2", expr(
        s"10 * size(filter(__h2, x -> array_contains($stopArr, x))) >= size(__h2)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__e1") =!= col("__e2"), 1L).otherwise(0L)).as("n_mixed"),
        sum(when(col("__e1") && !col("__e2"), 1L).otherwise(0L)).as("n_en_front"),
        sum(when(!col("__e1") && col("__e2"), 1L).otherwise(0L)).as("n_en_back"))
      .select(
        col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_mixed").cast("long").as("n_mixed"),
        col("n_en_front").cast("long").as("n_en_front"),
        col("n_en_back").cast("long").as("n_en_back"),
        Extensions.share4("n_mixed", "n_docs").as("mixed_share"))
      .orderBy("source")
  }

  /** X133 — code-switching / mixed-language detection (`q_lang_mix`):
    * the curation signal X9 cannot see — X9 labels the WHOLE doc, so
    * a document that changes language mid-stream (a scraped page with
    * an English header and non-English body, concatenated boilerplate,
    * bad segmentation) gets one confident wrong label and pollutes
    * whichever language bucket it lands in. Per source: eligible
    * docs, docs whose two halves the X9 verdict labels differently,
    * the direction split (en-front/other-back vs the reverse — which
    * end the English is on says header-vs-footer contamination), and
    * the mixed share.
    */
  private def langMix(s: SparkSession, dir: String): DataFrame =
    langMixOf(Tables(s, dir, "documents").select(col("source"), col("text")))

  private def langMixSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    def eHalf(h: String): String =
      s"10 * len(list_filter($h, x -> list_contains($stopList, x))) >= len($h)"
    s"""WITH d AS (
       |  SELECT source, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |h AS (
       |  SELECT source,
       |    ${eHalf("list_slice(w, 1, n // 2)")} AS e1,
       |    ${eHalf("list_slice(w, n // 2 + 1, n)")} AS e2
       |  FROM d WHERE n >= 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN e1 <> e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       |  CAST(sum(CASE WHEN e1 AND NOT e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_en_front,
       |  CAST(sum(CASE WHEN e2 AND NOT e1 THEN 1 ELSE 0 END) AS BIGINT) AS n_en_back,
       |  CAST((20000 * sum(CASE WHEN e1 <> e2 THEN 1 ELSE 0 END) + count(*))
       |       // (2 * count(*)) AS BIGINT) / 10000.0 AS mixed_share
       |FROM h GROUP BY source ORDER BY source""".stripMargin
  }

  /** X146's template grain and admission floor: the first
    * [[templatePrefixLen]] words are the fingerprint, and a prefix
    * shared by ≥ [[templateMinDocs]] docs is a template.
    */
  private[graft] val templatePrefixLen = 3
  private[graft] val templateMinDocs = 3L

  /** X146 core — prefix-template clusters off a (doc_id, source,
    * text) frame. Factored so TextAnalysisSpec can drive a
    * hand-planted two-template layout (below/at/above the floor, one
    * template cross-source, one source-local) through the SAME
    * machinery.
    */
  private[graft] def templateDetectOf(docsDf: DataFrame): DataFrame = {
    val prefix = concat_ws(" ",
      expr(s"slice(split(text, ' '), 1, $templatePrefixLen)"))
    val tpl = docsDf
      .select(prefix.as("prefix"), col("doc_id"), col("source"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("exemplar"))
      .filter(col("n_docs") >= templateMinDocs)
      .localCheckpoint(true)
    val tot = tpl.agg(sum(col("n_docs")).as("in_tpl"))
      .crossJoin(broadcast(docsDf.agg(count(lit(1)).as("n_all"))))
    tpl.crossJoin(broadcast(tot))
      .select(
        col("prefix"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_sources").cast("long").as("n_sources"),
        col("exemplar").cast("long").as("exemplar"),
        Extensions.share4("COALESCE(in_tpl, 0)", "n_all").as("templated_share"))
      .orderBy("prefix")
  }

  /** X146 — template detection (`q_template_detect`): the
    * form-letter/scraped-template screen — X52 strips corpus-frequent
    * WINDOWS anywhere in a doc; this catches the complementary shape,
    * documents STAMPED from one template (identical opening): shared
    * exact word-prefix clusters. Per template: the prefix, member
    * docs, distinct sources touched (a cross-source template is
    * scraped boilerplate; a one-source template is that source's form
    * letter), an exemplar doc; riding, the share of the corpus that
    * is templated. Runs over the X24 planted corpus (every 15th doc
    * stamped with the declared phrase — the planted-truth pattern) so
    * the operator has a genuine template to find at every SF.
    *
    * Scale: one narrow pass to the prefix dictionary (one exchange,
    * map-side partials; distinct prefixes ≤ N and Zipf-concentrated),
    * floor filter, checkpointed template dict (two consumers), 1-row
    * broadcast totals.
    */
  private def templateDetect(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 15 === 0,
          concat(lit(Search.phraseTerms.mkString("", " ", " ")), col("text")))
          .otherwise(col("text")).as("text"))
    templateDetectOf(planted)
  }

  private def templateDetectSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 15 = 0
       |         THEN '${Search.phraseTerms.mkString(" ")} ' || text
       |         ELSE text END AS text
       |  FROM documents),
       |tpl AS MATERIALIZED (
       |  SELECT array_to_string(list_slice(string_split(text, ' '), 1, $templatePrefixLen), ' ') AS prefix,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(min(doc_id) AS BIGINT) AS exemplar
       |  FROM d GROUP BY 1 HAVING count(*) >= $templateMinDocs),
       |t AS (SELECT sum(n_docs) AS in_tpl FROM tpl),
       |na AS (SELECT count(*) AS n_all FROM documents)
       |SELECT prefix, n_docs, n_sources, exemplar,
       |  CAST((20000 * COALESCE(t.in_tpl, 0) + na.n_all)
       |       // (2 * na.n_all) AS BIGINT) / 10000.0 AS templated_share
       |FROM tpl, t, na ORDER BY prefix""".stripMargin

  /** X157's bigram-shingle stream off a (source, text) frame — the
    * SHARED domain both the sketch and the exact audit count: word
    * 2-grams, the same grain X5a shingles for near-dup candidates.
    * Factored so the spec and the streaming dial reuse the exact
    * expression; `carry` columns (the dial's event time) ride ahead
    * of (source, tok).
    */
  private[graft] def hllBigrams(docsDf: DataFrame, carry: String*): DataFrame =
    docsDf
      .withColumn("w", split(col("text"), " "))
      // Total-guard (ADVICE r18): size(w)=1 makes sequence(1, 0) the
      // DESCENDING [1, 0] and element_at(w, 0) throws (one short line
      // would kill a streaming query) — while the oracle's
      // generate_series(1, 0) is empty. Guarding keeps both engines
      // agreeing that a <2-word doc contributes zero bigrams.
      .select(carry.map(col) ++ Seq(col("source"), explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"))
        .as("tok")): _*)

  /** X157 declarative register twin: per (key, bucket) the max rank,
    * computed as plain relational algebra — the parity reference
    * TextAnalysisSpec pins register-for-register against
    * [[graft.functions.HllSketch]], and the literal shape the DuckDB
    * oracle replays. bucket = h ≫ 52 (top 8 of the 60 hash bits),
    * rank ρ = 53 − bitlen(h mod 2⁵²) via `length(bin(w))` — integer
    * bit arithmetic both engines compute identically (w = 0 → 53).
    */
  private[graft] def hllRegistersDeclarative(toks: DataFrame): DataFrame =
    toks
      .select(col("source"), Hashing.h60(col("tok")).as("h"))
      .select(col("source"),
        Hashing.hllBucket(col("h")).as("j"), Hashing.hllRank(col("h")).as("rho"))
      .groupBy(col("source"), col("j"))
      .agg(max(col("rho")).as("mj"))

  /** X157 estimate algebra off a (source, s, v_empty) frame — the
    * bias-corrected HLL estimate as exact integer rationals, shared
    * by the batch query, the spec recount, and the streaming dial.
    * Raw: HALF_UP(α·m²·2⁵³ / S) with α = 0.718273 (the published
    * α₂₅₆ = 0.7213/(1 + 1.079/256) at 6 dp, numerator on
    * DECIMAL(38,0) — ~8.5·10²⁶ overflows BIGINT). Small-range
    * (Flajolet §4): est ≤ 5m/2 = 640 with empty registers → linear
    * counting m·ln(m/V) — the ONE float op in the operator; its input
    * domain is the 255 possible V values, and every one rounds ≥10⁻⁹
    * clear of a half (audited exhaustively cross-engine r18), so the
    * 0 dp round is deterministic on both engines.
    */
  private[graft] def hllEstimate(perKey: DataFrame): DataFrame =
    perKey
      .withColumn("est_raw", expr(
        """CAST((2 * CAST(718273 AS DECIMAL(38,0)) * 65536 * 9007199254740992
          |       + 1000000 * CAST(s AS DECIMAL(38,0)))
          |  DIV (2000000 * CAST(s AS DECIMAL(38,0))) AS BIGINT)""".stripMargin))
      .withColumn("hll_est",
        when(col("est_raw") <= 640 && col("v_empty") > 0,
          round(lit(256.0) * log(lit(256.0) / col("v_empty").cast("double")), 0)
            .cast("long"))
          .otherwise(col("est_raw")))
      .withColumn("branch",
        when(col("est_raw") <= 640 && col("v_empty") > 0, lit("lc"))
          .otherwise(lit("raw")))

  /** X157 — distinct-cardinality sketch audit (`q_hll_distinct`): the
    * capacity-planning number every dedup/LSH stage reads first — how
    * many distinct bigram shingles does each source contribute (X5a's
    * candidate-index key space, the size that picks LSH band counts
    * and shuffle partitioning) — estimated by a deterministic
    * HyperLogLog built SOLELY from cross-engine-reproducible pieces,
    * next to the exact count and the estimate/exact ratio, closing
    * the audit loop the way X119 does for ANN recall and X150 for LSH
    * recall. R6/X43 ship Spark's own HLL++ for this job at 100 TB but
    * could only be bound-verified ("no cross-engine sketch parity");
    * here the ORACLE REBUILDS THE REGISTERS relationally and the
    * estimate hash-matches — the sketch answer itself is certified,
    * not just banded. Both correction branches are live across the
    * test SFs (raw at sf0.01's ~700-bigram sources; LC pinned by the
    * spec's small-domain fixture and live on the unigram domain).
    *
    * Scale: the sketch path is ONE narrow corpus pass folding into
    * [[graft.functions.HllSketch]] — a 256-byte buffer per source
    * through ObjectHashAggregate map-side partials, merge =
    * elementwise max (idempotent, so the streaming twin absorbs
    * replay for free); nothing vocabulary-sized moves. The exact
    * column is the AUDIT, priced honestly: a (source, tok) distinct
    * collapse that is exactly the cost the sketch exists to avoid —
    * production drops it and reads the sketch alone (the X22
    * certificate pattern: audit at test SF, sketch at scale).
    * TextAnalysisSpec pins native ≡ declarative registers, recounts
    * the estimate sequentially from raw registers, and drives the LC
    * branch through [[hllEstimate]] with a planted tiny domain.
    */
  private def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = hllBigrams(docs(s, dir).select(col("source"), col("text")))
    val sk = toks
      .groupBy(col("source"))
      .agg(call_function("graft_hll", Hashing.h60(col("tok"))).as("hs"))
      .select(col("source"), col("hs.s").as("s"), col("hs.v").as("v_empty"))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    hllEstimate(sk)
      .join(broadcast(exact), "source")
      .select(
        col("source"),
        col("exact_distinct").cast("long").as("exact_distinct"),
        col("hll_est"),
        Extensions.share4("hll_est", "exact_distinct").as("est_ratio"),
        col("v_empty").cast("long").as("v_empty"),
        col("branch"))
      .orderBy("source")
  }

  private def hllDistinctSql: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |tok AS (
      |  SELECT source, unnest(list_transform(generate_series(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i + 1])) AS tok FROM t),
      |r AS (
      |  SELECT source,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT // 4503599627370496 AS j,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4503599627370496 AS w
      |  FROM tok),
      |m AS (
      |  SELECT source, j,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mj
      |  FROM r GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, count(*) AS obs,
      |    sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS s_obs
      |  FROM m GROUP BY 1),
      |est AS (
      |  SELECT source, s_obs + (256 - obs) * (CAST(1 AS BIGINT) << 53) AS s,
      |    256 - obs AS v FROM agg),
      |raw AS (
      |  SELECT source, v,
      |    CAST((2 * CAST(718273 AS HUGEINT) * 65536 * 9007199254740992
      |          + 1000000 * CAST(s AS HUGEINT))
      |      // (2000000 * CAST(s AS HUGEINT)) AS BIGINT) AS est_raw
      |  FROM est),
      |fin AS (
      |  SELECT source, v,
      |    CASE WHEN est_raw <= 640 AND v > 0
      |         THEN CAST(round(256 * ln(256.0 / v), 0) AS BIGINT)
      |         ELSE est_raw END AS hll_est,
      |    CASE WHEN est_raw <= 640 AND v > 0 THEN 'lc' ELSE 'raw' END AS branch
      |  FROM raw),
      |ex AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
      |       FROM tok GROUP BY 1)
      |SELECT f.source, ex.exact_distinct, f.hll_est,
      |  CAST((20000 * f.hll_est + ex.exact_distinct)
      |       // (2 * ex.exact_distinct) AS BIGINT) / 10000.0 AS est_ratio,
      |  CAST(f.v AS BIGINT) AS v_empty, f.branch
      |FROM fin f JOIN ex USING (source) ORDER BY source""".stripMargin

  /** X158's quantile ladder: one exploded `q` struct per target
    * percentile (q_pct, and the fraction qn/qd), shared with the
    * streaming `Gateway.histQuantilesFeed`.
    */
  private[graft] def quantileLadder: Column = explode(array(
    struct(lit(50L).as("q_pct"), lit(1L).as("qn"), lit(2L).as("qd")),
    struct(lit(90L).as("q_pct"), lit(9L).as("qn"), lit(10L).as("qd")),
    struct(lit(99L).as("q_pct"), lit(99L).as("qn"), lit(100L).as("qd"))))
    .as("q")

  /** The ceiling rank ⌈q·n_docs⌉ of a [[quantileLadder]] row, exact in
    * integers.
    */
  private[graft] def quantileRank: Column =
    expr("CAST((q.qn * n_docs + q.qd - 1) DIV q.qd AS BIGINT)")

  /** X158's binning (the HdrHistogram scheme, Tene): values < 2^(s+1)
    * map to themselves (exact); larger values keep their top s+1 bits
    * — bucket index (b−s−1)·2^s + (n ≫ (b−s−1)) with b = bitlen(n),
    * bounds lo = top ≪ shift, hi = ((top+1) ≪ shift) − 1. s = 4 sub
    * bits → bin width ≤ value/16 (midpoint error ≤ 3.2 %), ≤ ~1000
    * bins over the whole BIGINT range. All integer bit arithmetic —
    * `length(bin(n))` and `<<`/`>>` compute identically on both
    * engines (the X157 rank trick), so the sketch is oracle-exact.
    */
  private[graft] def histBinned(d: DataFrame): DataFrame =
    d.withColumn("b", length(bin(col("n"))).cast("long"))
      .withColumn("idx", when(col("n") < 32, col("n"))
        .otherwise((col("b") - 5) * 16 +
          expr("shiftright(n, CAST(b - 5 AS INT))")))
      .withColumn("lo", when(col("n") < 32, col("n"))
        .otherwise(expr(
          "shiftleft(shiftright(n, CAST(b - 5 AS INT)), CAST(b - 5 AS INT))")))
      .withColumn("hi", when(col("n") < 32, col("n"))
        .otherwise(expr(
          "shiftleft(shiftright(n, CAST(b - 5 AS INT)) + 1, CAST(b - 5 AS INT)) - 1")))

  /** X158 — mergeable-histogram quantile sketch (`q_hist_quantiles`):
    * per-source p50/p90/p99 of document token counts read from an
    * HdrHistogram-binned dictionary instead of a full sort — the
    * quantile analog of X157's cardinality story. R16's 100 TB path
    * (`quantilesApprox`, Greenwald–Khanna) could only be
    * bound-verified because GK sketch state is insertion-order
    * dependent; this binning is a PURE FUNCTION of each value, so the
    * dictionary — and therefore the quantile estimate — is
    * deterministic, mergeable (counts add), and the ORACLE REPLAYS IT
    * EXACTLY. Guarantee: the true quantile provably lies in the
    * winning bin's [lo, hi] (width ≤ value/16); the estimate is the
    * bin midpoint. Output per (source, q ∈ {50, 90, 99}): docs, est,
    * lo, hi, the exact order statistic (the AUDIT column — the
    * value-domain collapse the sketch exists to avoid; production
    * drops it), and est/exact 4 dp.
    *
    * Ranks are ceil(q·N) as exact integers ((qn·N + qd − 1) div qd);
    * the winning bin is the least idx whose cumulative count reaches
    * the rank — a window over the ≤ ~1000-bin per-source dictionary,
    * then a broadcast-scale join back for bounds. The exact column
    * runs the same cumulative trick over the (source, n) value
    * dictionary (bounded by distinct lengths, not rows). One narrow
    * corpus pass feeds both; everything downstream is dictionary
    * work. TextAnalysisSpec recounts sequentially at two SFs and pins
    * the containment guarantee exact ∈ [lo, hi] on every row.
    */
  private def histQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
    // the bin dictionary is consumed three ways (cumulative ranks,
    // per-source totals, winning-bin bounds) — checkpoint the ≤ ~1000-
    // bins-per-source collapse so the corpus is scanned ONCE for the
    // sketch (plus the irreducible exact-audit scan; r18 probe measured
    // the uncheckpointed form as 3 corpus scans)
    val bc = histBinned(d)
      .groupBy(col("source"), col("idx"))
      .agg(min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cum = bc.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("source")).orderBy(col("idx"))))
    // n_docs = sum cnt over the bin dictionary — saves a third corpus
    // scan (r18 probe: the operator was 3 narrow scans; the audit scan
    // is irreducible, the count scan was not)
    val tgt = bc.groupBy(col("source")).agg(sum(col("cnt")).as("n_docs"))
      .select(col("source"), col("n_docs"), quantileLadder)
      .select(col("source"), col("n_docs"), col("q.q_pct").as("q_pct"),
        quantileRank.as("rk"))
    val pick = tgt.join(cum.select(col("source").as("csrc"), col("idx"), col("cum")),
        col("csrc") === col("source") && col("cum") >= col("rk"))
      .groupBy(col("source"), col("q_pct"), col("n_docs"))
      .agg(min(col("idx")).as("win_idx"))
    val ecum = d.groupBy(col("source"), col("n")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("source")).orderBy(col("n"))))
    val epick = tgt.join(ecum.select(col("source").as("esrc"), col("n"), col("cum")),
        col("esrc") === col("source") && col("cum") >= col("rk"))
      .groupBy(col("source").as("xsrc"), col("q_pct").as("xq"))
      .agg(min(col("n")).as("exact"))
    pick
      .join(bc.select(col("source").as("bsrc"), col("idx"), col("lo"), col("hi")),
        col("bsrc") === col("source") && col("idx") === col("win_idx"))
      .join(epick, col("xsrc") === col("source") && col("xq") === col("q_pct"))
      .select(
        col("source"),
        col("q_pct").cast("long").as("q_pct"),
        col("n_docs").cast("long").as("n_docs"),
        expr("CAST((lo + hi) DIV 2 AS BIGINT)").as("est"),
        col("lo").cast("long").as("lo"),
        col("hi").cast("long").as("hi"),
        col("exact").cast("long").as("exact"),
        Extensions.share4("(lo + hi) DIV 2", "exact").as("est_ratio"))
      .orderBy("source", "q_pct")
  }

  private def histQuantilesSql: String =
    """WITH d AS (SELECT source, len(string_split(text, ' ')) AS n FROM documents),
      |bins AS (
      |  SELECT source, n,
      |    CASE WHEN n < 32 THEN n
      |         ELSE (length(bin(n)) - 5) * 16 + (n >> (length(bin(n)) - 5)) END AS idx,
      |    CASE WHEN n < 32 THEN n
      |         ELSE (n >> (length(bin(n)) - 5)) << (length(bin(n)) - 5) END AS lo,
      |    CASE WHEN n < 32 THEN n
      |         ELSE (((n >> (length(bin(n)) - 5)) + 1) << (length(bin(n)) - 5)) - 1 END AS hi
      |  FROM d),
      |bc AS (SELECT source, idx, min(lo) AS lo, min(hi) AS hi, count(*) AS cnt
      |       FROM bins GROUP BY 1, 2),
      |cum AS (SELECT source, idx, lo, hi,
      |        sum(cnt) OVER (PARTITION BY source ORDER BY idx) AS cum FROM bc),
      |nn AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
      |qs AS (SELECT * FROM (VALUES (50, 1, 2), (90, 9, 10), (99, 99, 100)) q(q_pct, qn, qd)),
      |tgt AS (SELECT source, n_docs, q_pct, (qn * n_docs + qd - 1) // qd AS rk
      |        FROM nn CROSS JOIN qs),
      |pick AS (
      |  SELECT t.source AS source, t.q_pct AS q_pct, t.n_docs AS n_docs,
      |    min(c.idx) AS win_idx
      |  FROM tgt t JOIN cum c ON c.source = t.source AND c.cum >= t.rk
      |  GROUP BY 1, 2, 3),
      |ec AS (SELECT source, n, count(*) AS cnt FROM d GROUP BY 1, 2),
      |ecum AS (SELECT source, n,
      |         sum(cnt) OVER (PARTITION BY source ORDER BY n) AS cum FROM ec),
      |epick AS (
      |  SELECT t.source AS source, t.q_pct AS q_pct, min(e.n) AS exact
      |  FROM tgt t JOIN ecum e ON e.source = t.source AND e.cum >= t.rk
      |  GROUP BY 1, 2)
      |SELECT p.source, CAST(p.q_pct AS BIGINT) AS q_pct,
      |  CAST(p.n_docs AS BIGINT) AS n_docs,
      |  CAST((c.lo + c.hi) // 2 AS BIGINT) AS est,
      |  CAST(c.lo AS BIGINT) AS lo, CAST(c.hi AS BIGINT) AS hi,
      |  CAST(e.exact AS BIGINT) AS exact,
      |  CAST((20000 * ((c.lo + c.hi) // 2) + e.exact)
      |       // (2 * e.exact) AS BIGINT) / 10000.0 AS est_ratio
      |FROM pick p
      |JOIN bc c ON c.source = p.source AND c.idx = p.win_idx
      |JOIN epick e ON e.source = p.source AND e.q_pct = p.q_pct
      |ORDER BY p.source, q_pct""".stripMargin

  /** X162's entity grammar: RE2 ∩ java.util.regex common subset —
    * character classes, bounded repetition, \b, non-capturing groups
    * only (no lookaround, no backrefs), so Spark's codegen'd regexp
    * and DuckDB's RE2 match the SAME spans. Ordered; the output keeps
    * one count column per kind.
    */
  private[graft] val entityPatterns: Seq[(String, String)] = Seq(
    "emails" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "urls" -> "https?://[a-z0-9./_-]+",
    "ipv4s" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "years" -> "\\b(?:19|20)[0-9]{2}\\b")

  /** X162's entity-bearing corpus: the base documents (digit-free
    * word salad — zero organic matches, verified) extended with
    * DETERMINISTIC planted mentions, the dedup family's planted-truth
    * pattern: every 7th doc two emails, every 11th a URL, every 13th
    * an IPv4 (segments ≤ 249, so the year pattern can never fire
    * inside an address), every 17th a year. Pure string algebra both
    * engines derive identically.
    */
  private[graft] def entityDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("source"), concat(
      col("text"),
      when(col("doc_id") % 7 === 3,
        concat(lit(" reach u"), col("doc_id").cast("string"), lit("@example.com or u"),
          col("doc_id").cast("string"), lit("@test.org"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 5,
        concat(lit(" see https://site"), col("doc_id").cast("string"),
          lit(".example.org/p"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 6,
        concat(lit(" node 10."), (col("doc_id") % 250).cast("string"), lit(".0."),
          (col("doc_id") % 200).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 17 === 2,
        concat(lit(" since "), (col("doc_id") % 45 + 1980).cast("string")))
        .otherwise(lit("")))
      .as("text"))

  /** X162 — entity-mention audit (`q_entity_stats`): per source, how
    * many email/URL/IPv4/year mentions the corpus carries — the
    * pre-flight a PII/redaction stage (X19) and a link-graph builder
    * read before deciding what to strip or follow. Counting is
    * `regexp_extract_all` length per kind — one narrow codegen'd scan,
    * map-side partial sums, no join, no window; at 100 TB this is the
    * same one-pass shape as X2's text stats (regex cost is per-row CPU,
    * embarrassingly parallel). The planted mentions keep every counter
    * live at every SF; the oracle re-derives the plants and re-extracts
    * with RE2 — the hash compare certifies the two regex engines agree
    * on the grammar subset (see [[entityPatterns]]).
    */
  private def entityStats(s: SparkSession, dir: String): DataFrame =
    entityStatsBy(entityDocs(s, dir), col("source")).orderBy("source")

  /** X162's counters over a (…, text) frame grouped by `keys`: docs,
    * the per-kind mention totals of [[entityPatterns]] and the docs
    * with any mention. Shared by [[entityStats]] and
    * `Gateway.entityFeed`.
    */
  private[graft] def entityStatsBy(docs: DataFrame, keys: Column*): DataFrame =
    entityPatterns.foldLeft(docs) { case (df, (name, pat)) =>
      df.withColumn(name,
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
    }
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("emails")).cast("long").as("emails"),
        sum(col("urls")).cast("long").as("urls"),
        sum(col("ipv4s")).cast("long").as("ipv4s"),
        sum(col("years")).cast("long").as("years"),
        sum(when(col("emails") + col("urls") + col("ipv4s") + col("years") > 0, 1L)
          .otherwise(0L)).cast("long").as("docs_with_entities"))

  private def entityStatsSql: String = {
    val kinds = entityPatterns
      .map { case (name, pat) => s"len(regexp_extract_all(text, '$pat')) AS $name" }
      .mkString(",\n      |    ")
    s"""WITH d AS (
       |  SELECT source, text
       |    || CASE WHEN doc_id % 7 = 3
       |         THEN ' reach u' || doc_id || '@example.com or u' || doc_id || '@test.org'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 11 = 5
       |         THEN ' see https://site' || doc_id || '.example.org/p' ELSE '' END
       |    || CASE WHEN doc_id % 13 = 6
       |         THEN ' node 10.' || (doc_id % 250) || '.0.' || (doc_id % 200) ELSE '' END
       |    || CASE WHEN doc_id % 17 = 2
       |         THEN ' since ' || (doc_id % 45 + 1980) ELSE '' END AS text
       |  FROM documents),
       |c AS (
       |  SELECT source,
       |    $kinds
       |  FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(emails) AS BIGINT) AS emails,
       |  CAST(sum(urls) AS BIGINT) AS urls,
       |  CAST(sum(ipv4s) AS BIGINT) AS ipv4s,
       |  CAST(sum(years) AS BIGINT) AS years,
       |  CAST(sum(CASE WHEN emails + urls + ipv4s + years > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_entities
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_token_count" -> QueryDef(
      tokenCount,
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_tokens,
             |  n_chars
             |FROM documents ORDER BY doc_id""".stripMargin),
      "token counting: whitespace + BPE-ish greedy chunks"),
    "q_lang_confusion" -> QueryDef(
      langConfusion,
      Some(langConfusionSql),
      "X123 language-ID evaluation: complete confusion grid + exact-rational accuracy/P/R/F1"),
    "q_lang_id" -> QueryDef(
      langId,
      Some("""SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_filter(string_split(text, ' '),
             |       x -> x IN ('the', 'a', 'of', 'to', 'and', 'is', 'in'))) AS BIGINT) AS n_stop,
             |  CASE WHEN 10 * len(list_filter(string_split(text, ' '),
             |       x -> x IN ('the', 'a', 'of', 'to', 'and', 'is', 'in')))
             |       >= len(string_split(text, ' '))
             |       THEN 'en' ELSE 'other' END AS pred
             |FROM documents ORDER BY doc_id""".stripMargin),
      "language-ID heuristic by stopword ratio"),
    "q_quality_score" -> QueryDef(
      qualityScore,
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |SELECT doc_id,
             |  CAST(len(w) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS token_chars,
             |  round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w), 4) AS avg_token_len,
             |  round(CAST(len(list_distinct(w)) AS DOUBLE) * 100 / len(w), 4) AS ttr_pct,
             |  CAST(CASE WHEN len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)
             |       THEN 1 ELSE 0 END AS BIGINT) AS is_quality
             |FROM t ORDER BY doc_id""".stripMargin),
      "quality scoring: length / token-length / type-token ratio + keep flag"),
    "q_fingerprint" -> QueryDef(
      fingerprint,
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(w) AS tok, unnest(generate_series(1, len(w))) AS i
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1048573) * (((i - 1) % 64) + 1)) AS BIGINT) AS fingerprint
             |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "position-weighted rolling document fingerprint"),
    "q_profile" -> QueryDef(
      profile,
      Some {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  round(CAST(min($c) AS DOUBLE), 4) AS min_num,
             |  round(CAST(max($c) AS DOUBLE), 4) AS max_num,
             |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             |FROM orders""".stripMargin
        def str(c: String) =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
             |  min($c) AS min_str, max($c) AS max_str
             |FROM orders""".stripMargin
        Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
            str("o_orderstatus"), str("o_orderpriority"))
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
      },
      "per-column data profiling: counts / nulls / distinct / extrema"),
    "q_ngram_freq" -> QueryDef(
      ngramFreq,
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
             |        FROM toks WHERE len(w) >= 2),
             |bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram FROM idx)
             |SELECT bigram, CAST(count(*) AS BIGINT) AS n
             |FROM bg GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin),
      "corpus bigram frequencies, top-20"),
    "q_cooccur" -> QueryDef(
      cooccur,
      Some(s"""WITH toks AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |kept AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) >= $cooccurMinDf),
             |ftoks AS (SELECT t.doc_id, t.tok FROM toks t JOIN kept k USING (tok))
             |SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_docs
             |FROM ftoks a JOIN ftoks b ON a.doc_id = b.doc_id AND a.tok < b.tok
             |GROUP BY 1, 2 ORDER BY n_docs DESC, tok_a ASC, tok_b ASC LIMIT 30""".stripMargin),
      "token co-occurrence document counts (df-floored vocab), top-30"),
    "q_doc_freq" -> QueryDef(
      docFreq,
      Some("""WITH toks AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |SELECT tok, CAST(count(*) AS BIGINT) AS df
             |FROM toks GROUP BY tok ORDER BY df DESC, tok ASC""".stripMargin),
      "document frequency per token (tf-idf ingredient)"),
    "q_len_hist" -> QueryDef(
      lenHist,
      Some("""SELECT CAST(floor(len(string_split(text, ' ')) / 10) * 10 AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin),
      "document length histogram (decade buckets)"),
    "q_repetition" -> QueryDef(
      repetition,
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 30 = 0
             |         THEN trim(repeat(string_split(text, ' ')[1] || ' ', 40))
             |         ELSE text END AS text
             |  FROM documents),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
             |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
             |        FROM toks WHERE len(w) >= 2),
             |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram FROM idx),
             |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram)
             |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |  CAST(max(c) AS BIGINT) AS max_count,
             |  CAST(CASE WHEN 5 * max(c) > sum(c) THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
             |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "X20 repetition scoring: top-bigram share with integer keep flag"),
    "q_heavy_hitters" -> QueryDef(
      heavyHitters,
      Some("""SELECT tok, CAST(count(*) AS BIGINT) AS cnt
             |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin),
      "X22 exact top-20 tokens via Misra-Gries candidates + certified recount"),
    "q_normalize" -> QueryDef(
      normalize,
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0
             |         THEN 'NFC' || chr(769) || '  Te' || chr(769) || 'st  ' || text
             |         ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id, CAST(len(text) AS BIGINT) AS n_raw_chars,
             |  CAST(len(trim(regexp_replace(lower(nfc_normalize(text)), ' +', ' ', 'g'))) AS BIGINT) AS n_norm_chars,
             |  md5(trim(regexp_replace(lower(nfc_normalize(text)), ' +', ' ', 'g'))) AS norm_md5
             |FROM d ORDER BY doc_id""".stripMargin),
      "X23 text normalization: NFC + casefold + whitespace collapse, hash-certified"),
    "q_lm_score" -> QueryDef(
      lmScore,
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
             |              FROM documents WHERE len(string_split(text, ' ')) >= 2),
             |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks),
             |pairs AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg FROM idx),
             |cbg AS (SELECT bg, count(*) AS c_bg FROM pairs GROUP BY bg),
             |cu AS (SELECT w1, count(*) AS c_u FROM pairs GROUP BY w1)
             |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  round(sum(ln(CAST(c_bg AS DOUBLE) / c_u)) / count(*), 4) + 0 AS lm_logp
             |FROM pairs p JOIN cbg USING (bg) JOIN cu USING (w1)
             |GROUP BY p.doc_id ORDER BY doc_id""".stripMargin),
      "X27 n-gram LM typicality scoring: avg bigram log-prob under the corpus model"),
    "q_vocab_coverage" -> QueryDef(
      vocabCoverage,
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              |vocab AS (
              |  SELECT tok FROM toks GROUP BY tok
              |  ORDER BY count(*) DESC, tok ASC LIMIT $vocabV)
              |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              |  round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100
              |        / count(*), 4) AS oov_pct
              |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
              |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),
      "X37 vocabulary coverage: per-doc OOV rate against the top-V corpus vocab"),
    "q_source_sim" -> QueryDef(
      sourceSim,
      Some(s"""WITH toks AS (
              |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
              |vocab AS (
              |  SELECT tok FROM toks GROUP BY tok
              |  ORDER BY count(*) DESC, tok ASC LIMIT $vocabV),
              |prof AS (
              |  SELECT source, t.tok, CAST(count(*) AS DOUBLE) AS c
              |  FROM toks t JOIN vocab v ON t.tok = v.tok
              |  GROUP BY source, t.tok),
              |nrm AS (SELECT source, sqrt(sum(c * c)) AS nrm FROM prof GROUP BY source),
              |dots AS (
              |  SELECT a.source AS src_a, b.source AS src_b, sum(a.c * b.c) AS dot
              |  FROM prof a JOIN prof b ON a.tok = b.tok AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT src_a, src_b, round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
              |FROM dots JOIN nrm na ON na.source = src_a
              |JOIN nrm nb ON nb.source = src_b
              |ORDER BY src_a, src_b""".stripMargin),
      "X40 source-similarity matrix: cosine of per-source token profiles (top-V vocab)"),
    "q_bpe_merges" -> QueryDef(
      bpeMerges,
      Some(bpeSql),
      "X41 BPE vocabulary learning: first N merges over the weighted word-freq vocab"),
    "q_vocab_growth" -> QueryDef(
      vocabGrowth,
      Some(vocabGrowthSql),
      "X95 Heaps'-law vocabulary growth: nested hash-prefix checkpoints + fixed-point OLS fit"),
    "q_zipf_fit" -> QueryDef(
      zipfFit,
      Some(s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
              |wf AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY tok
              |       ORDER BY freq DESC, tok ASC LIMIT $zipfTopN),
              |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rnk FROM wf),
              |p AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
              |             CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
              |      FROM r),
              |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
              |             sum(x * y) AS sxy, sum(x * x) AS sxx
              |      FROM p)
              |SELECT n AS n_pts,
              |  round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 4) + 0 AS slope,
              |  round(sy / (n * 1000000.0)
              |    - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
              |      * (sx / (n * 1000000.0)), 4) + 0 AS ln_intercept
              |FROM a ORDER BY n_pts""".stripMargin),
      "X48 Zipf power-law fit: OLS slope of ln freq on ln rank over the top tokens"),
    "q_cms_freq" -> QueryDef(
      cmsFreq,
      Some(s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
              |wf AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY tok),
              |h AS (
              |  SELECT tok, freq, j,
              |    ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || tok), 1, 8))::BIGINT
              |      % $cmsWidth AS bucket
              |  FROM wf, LATERAL unnest(generate_series(0, ${cmsDepth - 1})) AS u(j)),
              |c AS (SELECT j, bucket, sum(freq) AS cnt FROM h GROUP BY j, bucket),
              |e AS (
              |  SELECT h.tok, min(h.freq) AS freq, CAST(min(c.cnt) AS BIGINT) AS est
              |  FROM h JOIN c USING (j, bucket) GROUP BY h.tok)
              |SELECT tok, freq, est AS cms_est, est - freq AS overcount
              |FROM e ORDER BY freq DESC, tok LIMIT $cmsTopN""".stripMargin),
      "X46 count-min sketch: one-pass frequency estimates vs exact for the top tokens"),
    "q_bpe_encode" -> QueryDef(
      bpeEncode,
      Some(bpeEncodeSql),
      "X44 BPE encode: apply the learned merges to every document, count tokens"),
    "q_tok_fertility" -> QueryDef(
      tokFertility,
      Some(tokFertilitySql),
      "X70 tokenizer fertility per language: subword/word and chars/token, integer-round"),
    "q_source_kl" -> QueryDef(
      sourceKl,
      Some(s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
              |vocab AS (
              |  SELECT tok FROM w GROUP BY tok
              |  ORDER BY count(*) DESC, tok ASC LIMIT $vocabV),
              |prof AS (
              |  SELECT source, t.tok, CAST(count(*) AS BIGINT) AS c
              |  FROM w t JOIN vocab v ON t.tok = v.tok
              |  GROUP BY source, t.tok),
              |ci AS (SELECT tok, sum(c) AS ci, sum(sum(c)) OVER () AS tc FROM prof GROUP BY tok),
              |ts AS (SELECT source, sum(c) AS ts FROM prof GROUP BY source),
              |terms AS (
              |  SELECT p.source, t.ts,
              |    CAST(round(1000000.0 * (CAST(p.c AS DOUBLE) / t.ts)
              |      * ln((CAST(p.c AS DOUBLE) / t.ts) / (CAST(i.ci AS DOUBLE) / i.tc)), 0)
              |      AS BIGINT) AS term
              |  FROM prof p JOIN ci i ON i.tok = p.tok JOIN ts t ON t.source = p.source)
              |SELECT source, CAST(ts AS BIGINT) AS n_vocab_toks,
              |  CAST(floor((abs(sum(term)) + 50) / 100)
              |       * (CASE WHEN sum(term) < 0 THEN -1 ELSE 1 END) AS BIGINT)
              |    / 10000.0 AS kl
              |FROM terms GROUP BY source, ts ORDER BY source""".stripMargin),
      "X51 per-source KL divergence from the corpus token distribution (top-V vocab)"),
    "q_source_drift" -> QueryDef(
      sourceDrift,
      Some("""WITH m AS (
             |  SELECT source, n_chars, count(*) AS c
             |  FROM documents GROUP BY source, n_chars),
             |cv AS (
             |  SELECT n_chars, sum(c) AS cv,
             |    sum(sum(c)) OVER (ORDER BY n_chars) AS cum_all,
             |    sum(sum(c)) OVER () AS n_total
             |  FROM m GROUP BY n_chars),
             |ms AS (
             |  SELECT source, n_chars, c,
             |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
             |    sum(c) OVER (PARTITION BY source) AS n_s
             |  FROM m),
             |j AS (
             |  SELECT s.source, s.n_s, v.n_total,
             |    greatest(
             |      abs(s.cum_s * v.n_total - v.cum_all * s.n_s),
             |      abs((s.cum_s - s.c) * v.n_total - (v.cum_all - v.cv) * s.n_s)) AS dd
             |  FROM ms s JOIN cv v USING (n_chars))
             |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
             |  CAST((CAST(max(dd) AS HUGEINT) * 20000 + CAST(n_s AS HUGEINT) * n_total)
             |       // (2 * CAST(n_s AS HUGEINT) * n_total) AS BIGINT) / 10000.0 AS ks
             |FROM j GROUP BY source, n_s, n_total ORDER BY source""".stripMargin),
      "X56 per-source length-distribution drift: exact two-sample KS vs the corpus"),
    "q_vocab_saturation" -> QueryDef(
      vocabSaturation,
      Some(vocabSaturationSql),
      "X80 per-source vocabulary saturation: Good-Turing unseen mass + bias-corrected Chao1"),
    "q_char_entropy" -> QueryDef(
      charEntropy,
      Some(charEntropySql),
      "X82 per-doc character entropy in bits: fixed-point integer terms, gibberish screen"),
    "q_corpus_card" -> QueryDef(
      corpusCard,
      Some(corpusCardSql),
      "X86 one-row corpus datasheet: volume, diversity, vocab + hapax share, rule-clean pct"),
    "q_burstiness" -> QueryDef(
      burstiness,
      Some(burstinessSql),
      "X101 term burstiness: Gries' DP dispersion over the full V×S grid, integer-exact"),
    "q_distinctive" -> QueryDef(
      distinctive,
      Some(distinctiveSql),
      "X104 per-source distinctive terms: Monroe et al. prior-smoothed log-odds, z-scored"),
    "q_topic_mix" -> QueryDef(
      topicMix,
      Some(topicMixSql),
      "X131 topic/domain composition: per (source, topic) lexicon share + corpus lift, complete grid"),
    "q_lang_mix" -> QueryDef(
      langMix,
      Some(langMixSql),
      "X133 code-switching detection: per source, half-vs-half X9 disagreement + direction split"),
    "q_template_detect" -> QueryDef(
      templateDetect,
      Some(templateDetectSql),
      "X146 template detection: shared word-prefix clusters with source spread + templated share"),
    "q_hll_distinct" -> QueryDef(
      hllDistinct,
      Some(hllDistinctSql),
      "X157 deterministic-HLL shingle cardinality per source: oracle-certified sketch + exact audit"),
    "q_hist_quantiles" -> QueryDef(
      histQuantiles,
      Some(histQuantilesSql),
      "X158 HdrHistogram quantile sketch per source: deterministic mergeable bins + exact audit"),
    "q_entity_stats" -> QueryDef(
      entityStats,
      Some(entityStatsSql),
      "X162 regex entity extraction audit: per-source email/url/ipv4/year mention counts over the planted corpus"),
  )
}
