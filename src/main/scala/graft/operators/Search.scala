package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.collection.immutable.ListMap

/** Relevance-ranking operators (SURVEY.md §2.5 X17/X18): TF-IDF term
  * weighting and BM25 search ranking — the retrieval half of a
  * training-data pipeline (quality-weighted source selection, nearest
  * -neighbour text retrieval for decontamination audits, corpus
  * search). The reference gateway has nothing of the kind; these are
  * EXT obligations alongside the dedup/similarity family.
  *
  * Float-parity design (why these CAN be oracle-declared even though
  * `TextAnalysis.docFreq`'s scaladoc warns idf's log is library
  * -dependent): every ln input here is a ratio of small exact
  * integers, and Java's `Math.log` and DuckDB's libm `ln` were
  * bit-compared on every such input this corpus produces (96 distinct
  * values at sf0.01+sf0.1) — one single-ulp divergence, which
  * `round(_, 4)` absorbs unless the product lands within ~1e-12 of a
  * rounding boundary. Ranking always compares the ROUNDED score (plus
  * an exact tie-break), never the raw double, so both engines rank
  * identical values. avgdl is computed as exact-integer sum / count,
  * never `avg()` (whose accumulation order differs per engine).
  *
  * Scale shape (100 TB): the tf aggregate compresses the exploded
  * token stream with map-side partials — one (doc_id, tok) shuffle.
  * df deliberately does NOT ride a window over `tok`: a Zipfian hot
  * token ("the", df ≈ N) would put its entire partition on one sort
  * task, and Spark's AQE can skew-split JOINS but not windows — a
  * window-keyed-by-token plan is scale-dead. Instead TF-IDF builds
  * its df dictionary from a second, cheap scan (array_distinct →
  * explode → count with map-side partials: the shuffle carries
  * per-partition vocab partials, never token occurrences) joined
  * WITHOUT a hint — the vocabulary auto-broadcasts while it fits
  * (Heaps' law keeps it sublinear) and AQE skew-splits the fallback
  * shuffle join; BM25's three per-term dfs fold into the same
  * single-row stats aggregate its avgdl already needs
  * (`array_contains` conditional counts — no second pass at all).
  * The one-row stats table rides a broadcast nested-loop join
  * (bounded by construction — a global aggregate is exactly one row,
  * the PlanAuditSpec-sanctioned shape); the top-K per doc is
  * WindowGroupLimit (per-partition bounded), the BM25 top-20 is
  * TakeOrderedAndProject. Nothing driver-side, nothing
  * corpus-proportional in any broadcast, no window keyed by a
  * skewable column (SearchSpec pins all of this).
  */
object Search {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Terms per document to keep in the TF-IDF view. */
  private val tfidfTopK = 3

  /** X17 — TF-IDF: per-document top-[[tfidfTopK]] terms by
    * tf · ln(N/df), the classic quality/keyword signal. Emits the
    * exact integer ingredients (tf, df) alongside the rounded score so
    * downstream consumers can re-derive any idf variant.
    */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // vocabulary dictionary from its own scan — the exact q_doc_freq
    // derivation, shared so the two queries can never drift on
    // tokenization (TextAnalysis.dfByToken)
    val dft = TextAnalysis.dfByToken(docs(s, dir))
    val stats = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dft, "tok") // no hint: auto-broadcast / AQE-skew-split SMJ
      .crossJoin(broadcast(stats)) // exactly 1 row by construction
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= tfidfTopK)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** The fixed search query BM25 ranks against — three mid-df content
    * words of the synthetic vocabulary (a real deployment parameter
    * izes this; the declared query pins one instance for the oracle).
    */
  private[graft] val bm25Terms = Seq("spark", "query", "join")

  /** X18 — BM25 ranking (k1 = 1.2, b = 0.75): top-20 documents for
    * [[bm25Terms]]. idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the
    * Robertson–Sparck Jones form, always positive), weight =
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). The token stream is
    * filtered to the query terms BEFORE the tf aggregate, so the
    * shuffle carries only matching tokens — at corpus scale the whole
    * query is a narrow scan + a near-empty aggregate + a top-K.
    */
  private def bm25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        size(col("w")).cast("long").as("dl"))
    // per-term dfs fold into the same one-row aggregate avgdl needs:
    // the whole "dictionary" of a fixed query is |terms| counters
    val statCols =
      count(lit(1)).as("n_docs") +:
        sum(col("dl")).as("sum_dl") +:
        bm25Terms.map(t =>
          count(when(array_contains(col("w"), t), 1)).as(s"df_$t"))
    val stats = d.agg(statCols.head, statCols.tail: _*)
    val tf = d
      .select(col("doc_id"), col("dl"), explode(col("w")).as("tok"))
      .filter(col("tok").isin(bm25Terms.map(t => t: Any): _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // expression order mirrors the oracle SQL token for token — any
    // reassociation is a parity risk, not a style choice
    val dfOfTok = bm25Terms.foldRight(lit(null).cast("long")) { (t, acc) =>
      when(col("tok") === t, col(s"df_$t")).otherwise(acc)
    }
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val wt = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf
      .crossJoin(broadcast(stats)) // exactly 1 row by construction
      .withColumn("df", dfOfTok)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        round(sum(idf * wt), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** The fixed 3-token query phrase, planted at the head of every
    * 15th document in BOTH engines (the dedup-family planted-truth
    * pattern — trigram phrases on this word-soup corpus are not
    * guaranteed to recur naturally at every SF); natural occurrences
    * count too, identically on both sides.
    */
  private[graft] val phraseTerms = Seq("hash", "join", "order")

  /** X24 — exact phrase search over a positional inverted index: find
    * (and count per document) occurrences of a consecutive token
    * phrase. The substring-scan formulation (`text LIKE '%…%'`) reads
    * every byte of every document — the full-scan shape that dies at
    * corpus scale. The index formulation is the classic IR plan this
    * query declares: tokenize to (doc_id, pos, tok) postings, filter
    * each leg to ONE term's posting list (selectivity = term
    * frequency, the Zipf tail making most legs tiny), then equi-join
    * legs on (doc_id, pos arithmetic) — adjacency is position math,
    * not string math. At 100 TB the postings are a pre-built table
    * bucketed by token; here they are derived on the fly, but the
    * join shape — narrow filters into co-partitioned equi-joins, no
    * full-text rescan — is the scale contract. (A production planner
    * would additionally reorder legs rarest-term-first; the leg order
    * here is the fixed phrase order, which AQE's runtime statistics
    * already re-plan when a leg turns out tiny.)
    */
  private def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 15 === 0,
          concat(lit(phraseTerms.mkString("", " ", " ")), col("text")))
          .otherwise(col("text")).as("text"))
    val toks = planted
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val legs = phraseTerms.zipWithIndex.map { case (t, i) =>
      toks.filter(col("tok") === t)
        .select(col("doc_id"), (col("pos") - i).as("p0"))
        .as(s"l$i")
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
      .orderBy("doc_id")
  }

  private val termList = bm25Terms.map(t => s"'$t'").mkString(", ")

  /** RRF dampening constant — k = 60, the value of the original
    * Cormack–Clarke–Buettcher paper and of every production hybrid
    * search default since.
    */
  private[graft] val rrfK = 60

  /** X61 — hybrid retrieval via reciprocal-rank fusion: the X18 BM25
    * top-20 (lexical leg) fused with the X4 cosine top-20 over the
    * aligned embedding table (dense leg; vec_id ≡ doc_id in this
    * corpus) by RRF(d) = Σ_legs 1/(k + rank_leg(d)). Rank fusion, not
    * score fusion, is the production choice precisely because BM25
    * and cosine scores live on incomparable scales — ranks need no
    * calibration. Ranks are taken over each leg's ROUNDED score with
    * the doc-id tie-break (the house ranking rule), so both engines
    * rank identical values; 1/(k+r) sums two exactly-representable
    * doubles in a fixed order, so the rounded fusion score is
    * engine-portable.
    *
    * Scale shape: each leg ends in a distributed TakeOrdered top-20;
    * everything after — the rank windows, the full-outer rank join,
    * the fusion arithmetic — runs over ≤ 2·20 rows BY CONSTRUCTION
    * (the unpartitioned windows are bounded by the upstream limit,
    * not by corpus size, which is why they are allowed here and
    * banned over corpus-keyed frames). At 100 TB the legs are the
    * whole cost, and they are the already-audited X18/X4 plans.
    */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25(s, dir)
      .withColumn("lex_rk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rk"))
    val dense = Extensions.simCosine(s, dir)
      .withColumn("vec_rk",
        row_number().over(Window.orderBy(col("score").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("vec_rk"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"), col("lex_rk"), col("vec_rk"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("vec_rk")), lit(0.0)),
          4).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
  }

  private def bm25Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |dd AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM d),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dd),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(w) AS tok FROM dd)
       |  WHERE tok IN ($termList)
       |  GROUP BY doc_id, dl, tok),
       |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(sum(
       |    ln(CAST(1.0 AS DOUBLE) +
       |       (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
       |    * (tf * CAST(2.2 AS DOUBLE) /
       |       (tf + CAST(1.2 AS DOUBLE) *
       |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl /
       |         (CAST(sum_dl AS DOUBLE) / n_docs))))), 4) AS score
       |FROM tf JOIN dft USING (tok) CROSS JOIN stats
       |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  private def rrfFusionSql: String =
    s"""WITH lex0 AS ($bm25Sql),
       |lex AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS lex_rk
       |  FROM lex0),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(list_zip(e.embedding, q.qe),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> 0),
       |den0 AS (
       |  SELECT vec_id, round(score, 4) + 0 AS score FROM scored
       |  ORDER BY score DESC, vec_id ASC LIMIT 20),
       |den AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS vec_rk
       |  FROM den0)
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id, lex_rk, vec_rk,
       |  round(COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + lex_rk), 0) +
       |        COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + vec_rk), 0), 4) + 0 AS rrf
       |FROM lex FULL JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id ASC""".stripMargin

  /** X138's cut-offs — the K ladder an IR eval quotes. */
  private[graft] val rankEvalKs = Seq(5, 10, 20)

  /** X138 — ranking-quality evaluation (`q_rank_eval`): the IR eval
    * harness for the retrieval family — X18 RANKS, this SCORES the
    * ranking (the X123/X129 pattern: every classifier/ranker in the
    * engine gets an eval that can call it weak). Ground truth is
    * declared and engine-portable: graded relevance rel ∈ 0..3 by
    * total query-term OCCURRENCES (≥12 → 3, ≥9 → 2, ≥5 → 1 — pure
    * integer counting both engines state identically; thresholds
    * sized to the corpus occurrence tail so the grades differentiate
    * INSIDE the top-20, where a distinct-terms grade saturates). BM25
    * length-normalizes while the grade counts raw occurrences, so the
    * eval is honestly imperfect (nDCG@10 ≈ 0.76, MRR 0.5 at sf0.01)
    * — exactly the daylight a ranking eval exists to measure. Per
    * cut-off K ∈ {5, 10, 20}: precision@K (share of the top-K with
    * rel ≥ 2, exact rational), nDCG@K, and the riding MRR (1/rank of
    * the first rel-3 document, exact rational; 0 if none).
    *
    * nDCG numerics (the X51 ln discipline applied to log₂): each DCG
    * term gain/log₂(rank+1) — gain = 2^rel − 1 — is computed on
    * identical doubles in both engines and snapped to MILLIONTHS
    * before summing, so DCG@K and IDCG@K are exact integers of 1e-6
    * units and their ratio rounds 4dp by integer HALF_UP. The ideal
    * ordering comes from the corpus relevance HISTOGRAM (≤4 rows —
    * rank r's ideal grade is the largest rel whose ≥-cumulative count
    * covers r), never from sorting the corpus.
    *
    * Scale shape: ONE corpus pass computes rel in-row and collapses
    * to the ≤4-row histogram; the X18 chain is its own audited shape;
    * the eval itself joins the ≤20-row ranking (broadcast) against
    * the rel column, and every remaining step (ideal grid, ladders,
    * MRR) is work on ≤20×3 rows.
    */
  /** The graded-relevance column + corpus histogram and the judged
    * top-20 — factored private[graft] so the streaming twin's spec
    * ([[graft.streaming.Gateway.rankEvalFeed]]) can derive its
    * impression log and ideal-histogram artifact from the SAME
    * grading the batch eval uses.
    */
  private[graft] def relGraded(s: SparkSession, dir: String): DataFrame = {
    val termArr = bm25Terms.map(t => s"'$t'").mkString("array(", ", ", ")")
    val relCol = expr(
      s"""CASE WHEN size(filter(split(text, ' '), x -> array_contains($termArr, x))) >= 12 THEN 3
         |     WHEN size(filter(split(text, ' '), x -> array_contains($termArr, x))) >= 9 THEN 2
         |     WHEN size(filter(split(text, ' '), x -> array_contains($termArr, x))) >= 5 THEN 1
         |     ELSE 0 END""".stripMargin).cast("long")
    docs(s, dir).select(col("doc_id"), relCol.as("rel"))
  }

  /** The judged top-20: (rk, rel) for the BM25 ranking. */
  private[graft] def judgedRanking(s: SparkSession, dir: String): DataFrame = {
    val ranked = bm25(s, dir)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rk"))
    relGraded(s, dir).join(broadcast(ranked), "doc_id")
      .select(col("rk"), col("rel"))
  }

  /** The 6-dp DCG gain term round(10⁶·(2^rel − 1)/log2(rk + 1)) as a
    * BIGINT SQL expression — the one form [[rankEval]] and
    * `Gateway.rankEvalFeed` sum.
    */
  private[graft] def gain6(rk: String, rel: String): String =
    s"CAST(round(1000000.0 * CAST(shiftleft(1, CAST($rel AS INT)) - 1 AS DOUBLE)" +
      s" / log2($rk + 1), 0) AS BIGINT)"

  /** p_at_k = hits/hitsDen, ndcg = dcg6/idcg6 (0 when idcg6 = 0) and
    * mrr = 1/r1 (0 when no rank is fully relevant), each 4dp HALF_UP
    * off the `dcg6`, `idcg6` and `r1` columns — shared by [[rankEval]]
    * and `Gateway.rankEvalFeed`.
    */
  private[graft] def rankMetrics(hits: String, hitsDen: String): Seq[Column] = Seq(
    Extensions.share4(hits, hitsDen).as("p_at_k"),
    Extensions.share4("dcg6", "idcg6").as("ndcg"),
    (coalesce(expr(Extensions.sq4("1", "r1")), lit(0L)) / lit(10000.0)).as("mrr"))

  private def rankEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val relDf = relGraded(s, dir)
      .localCheckpoint(true) // two consumers: histogram + ranked join
    val hist = relDf.groupBy(col("rel")).agg(count(lit(1)).as("cnt"))
    val ranked = bm25(s, dir)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rk"))
    val term6 = expr(gain6("rk", "rel"))
    val rankedRel = relDf.join(broadcast(ranked), "doc_id")
      .select(col("rk"), col("rel"), term6.as("t6"))
    val wRelDesc = Window.orderBy(col("rel").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idealRel = (1 to rankEvalKs.max).map(_.toLong).toDF("rk")
      .crossJoin(broadcast(
        hist.withColumn("cum_ge", sum(col("cnt")).over(wRelDesc))))
      .filter(col("rk") <= col("cum_ge"))
      .groupBy(col("rk")).agg(max(col("rel")).as("rel"))
      .select(col("rk"), term6.as("t6"))
    val mrr = rankedRel.agg(min(when(col("rel") === 3, col("rk"))).as("r1"))
    val ks = rankEvalKs.map(_.toLong).toDF("k")
    val dcg = ks.crossJoin(broadcast(rankedRel))
      .groupBy(col("k"))
      .agg(
        sum(when(col("rk") <= col("k"), col("t6")).otherwise(0L)).as("dcg6"),
        sum(when(col("rk") <= col("k") && col("rel") >= 2, 1L).otherwise(0L))
          .as("hits"))
    val idcg = ks.crossJoin(broadcast(idealRel))
      .groupBy(col("k"))
      .agg(sum(when(col("rk") <= col("k"), col("t6")).otherwise(0L)).as("idcg6"))
    dcg.join(idcg, "k").crossJoin(broadcast(mrr))
      .select(col("k").cast("long").as("k") +: rankMetrics("hits", "k"): _*)
      .orderBy("k")
  }

  private def rankEvalSql: String =
    s"""WITH lex0 AS ($bm25Sql),
       |ranked AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |  FROM lex0),
       |rel AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(CASE WHEN occ >= 12 THEN 3 WHEN occ >= 9 THEN 2
       |              WHEN occ >= 5 THEN 1 ELSE 0 END AS BIGINT) AS rel
       |  FROM (SELECT doc_id,
       |          len(list_filter(string_split(text, ' '),
       |            x -> list_contains([$termList], x))) AS occ
       |        FROM documents) o),
       |hist AS (
       |  SELECT rel, count(*) AS cnt FROM rel GROUP BY 1),
       |rr AS MATERIALIZED (
       |  SELECT r.rk, rel.rel,
       |    CAST(round(1000000.0 * ((1 << rel.rel) - 1) / log2(r.rk + 1)) AS BIGINT) AS t6
       |  FROM ranked r JOIN rel USING (doc_id)),
       |ideal AS MATERIALIZED (
       |  SELECT g.rk,
       |    CAST(round(1000000.0 * ((1 << max(h.rel)) - 1) / log2(g.rk + 1)) AS BIGINT) AS t6
       |  FROM (SELECT unnest(generate_series(1, ${rankEvalKs.max})) AS rk) g
       |  JOIN (SELECT rel, sum(cnt) OVER (ORDER BY rel DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge
       |        FROM hist) h
       |    ON g.rk <= h.cum_ge
       |  GROUP BY g.rk),
       |mrr AS (
       |  SELECT COALESCE(
       |    CAST((20000 + min(CASE WHEN rel = 3 THEN rk END))
       |      // (2 * min(CASE WHEN rel = 3 THEN rk END)) AS BIGINT), 0) AS mrr4
       |  FROM rr),
       |ks(k) AS (VALUES ${rankEvalKs.map(k => s"($k)").mkString(", ")})
       |SELECT CAST(k AS BIGINT) AS k,
       |  CAST((20000 * (SELECT count(*) FROM rr WHERE rr.rk <= ks.k AND rr.rel >= 2)
       |        + k) // (2 * k) AS BIGINT) / 10000.0 AS p_at_k,
       |  CASE WHEN (SELECT COALESCE(sum(t6), 0) FROM ideal WHERE ideal.rk <= ks.k) = 0
       |       THEN 0.0
       |       ELSE CAST((20000 * (SELECT COALESCE(sum(t6), 0) FROM rr WHERE rr.rk <= ks.k)
       |                  + (SELECT sum(t6) FROM ideal WHERE ideal.rk <= ks.k))
       |             // (2 * (SELECT sum(t6) FROM ideal WHERE ideal.rk <= ks.k))
       |             AS BIGINT) / 10000.0
       |  END AS ndcg,
       |  mrr.mrr4 / 10000.0 AS mrr
       |FROM ks, mrr ORDER BY k""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_tfidf" -> QueryDef(
      tfidf,
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              |       FROM toks GROUP BY doc_id, tok),
              |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
              |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              |scored AS (
              |  SELECT doc_id, tok, tf, df,
              |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
              |  FROM tf JOIN dft USING (tok) CROSS JOIN stats),
              |rk AS (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rk
              |  FROM scored)
              |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, df, score
              |FROM rk WHERE rk <= $tfidfTopK ORDER BY doc_id, rk""".stripMargin),
      "X17 TF-IDF: per-document top-3 terms by tf * ln(N/df)"),
    "q_bm25" -> QueryDef(
      bm25,
      Some(bm25Sql),
      "X18 BM25 search ranking: top-20 documents for a fixed term query"),
    "q_phrase_search" -> QueryDef(
      phraseSearch,
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 15 = 0
              |         THEN '${phraseTerms.mkString(" ")} ' || text
              |         ELSE text END AS text
              |  FROM documents),
              |toks AS (
              |  SELECT doc_id, i - 1 AS pos, w[i] AS tok
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d) t,
              |       LATERAL unnest(generate_series(1, len(w))) AS s(i)),
              |l0 AS (SELECT doc_id, pos AS p0 FROM toks WHERE tok = '${phraseTerms(0)}'),
              |l1 AS (SELECT doc_id, pos - 1 AS p0 FROM toks WHERE tok = '${phraseTerms(1)}'),
              |l2 AS (SELECT doc_id, pos - 2 AS p0 FROM toks WHERE tok = '${phraseTerms(2)}')
              |SELECT l0.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              |FROM l0 JOIN l1 USING (doc_id, p0) JOIN l2 USING (doc_id, p0)
              |GROUP BY 1 ORDER BY doc_id""".stripMargin),
      "X24 exact phrase search via positional-inverted-index adjacency joins"),
    "q_rrf_fusion" -> QueryDef(
      rrfFusion,
      Some(rrfFusionSql),
      "X61 hybrid retrieval: BM25 + cosine top-20 legs fused by reciprocal-rank fusion"),
    "q_rank_eval" -> QueryDef(
      rankEval,
      Some(rankEvalSql),
      "X138 ranking eval: precision@K, snapped-integer nDCG@K and exact MRR of the BM25 ranking"),
  )
}
