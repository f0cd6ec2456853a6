package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Extensions.dec

import scala.collection.immutable.ListMap

/** Corpus-curation operators (SURVEY.md §2.5 X15/X16): the two
  * standard pre-training steps the dedup/quality family doesn't cover
  * — benchmark decontamination and deterministic stratified sampling.
  * The reference gateway has neither; these are EXT obligations of the
  * "operations a large-scale training-data pipeline needs" mandate,
  * designed Spark-first like the rest of the family.
  *
  * Both are integer-exact end to end (hash-derived uniforms, n-gram
  * counts), so the DuckDB oracle is hash-identical by construction.
  */
object Curation {

  import Hashing.h32

  /** Contamination n-gram length: long enough that a match is
    * evidence of copying, not chance (the 13-gram of published decontam
    * pipelines scaled to this corpus's 10–100-token docs).
    */
  private val gramN = 8

  /** Word-8-grams per doc, WITH duplicates. Same narrow explode shape
    * as the dedup shingle index. Deliberately not deduped here: the
    * training side dedups AFTER the benchmark-gram join (r10 — a
    * `distinct` before the join shuffled the entire corpus gram
    * stream just to drop repeats the join filter would discard
    * anyway; `countDistinct` over the surviving rows is the same set
    * at a fraction of the shuffle volume).
    *
    * Measured dead end (r11), kept so it isn't re-tried: this
    * `element_at(w, i)`-in-lambda form looks like the O(k³) trap the
    * r11 [[verdictGates]] rewrite fixed, but it is NOT — a single
    * transform feeding an explode stays in the codegen path where
    * subexpression elimination hoists the split, and converting it
    * (and the dedup shingle/bigram builds) to zip_with-over-slices
    * folds benched q_decontaminate 0.7 → 1.1 s at sf0.1 (the fold
    * materializes g−1 intermediate gram arrays). The lambda-body
    * discipline matters where HOFs NEST (aggregate over distinct with
    * column-referencing lambdas, as the verdict had); the flat
    * explode shape is already the fast form.
    */
  private val concatGram = (1 until gramN)
    .foldLeft("element_at(w, i)") { (acc, j) => s"concat($acc, ' ', element_at(w, i + $j))" }

  private def grams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= gramN)
      .select(
        col("doc_id"),
        explode(expr(s"transform(sequence(1, size(w) - ${gramN - 1}), i -> $concatGram)"))
          .as("gram"))

  /** [[grams]] generalized to an arbitrary gram length — X167's
    * sensitivity sweep re-runs the X15 machinery at several n; the
    * shipped 8-gram path keeps its own specialization above.
    */
  private def concatGramN(n: Int): String =
    (1 until n).foldLeft("element_at(w, i)") { (acc, j) =>
      s"concat($acc, ' ', element_at(w, i + $j))"
    }

  private def gramsN(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(
        col("doc_id"),
        explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), i -> ${concatGramN(n)})"))
          .as("gram"))

  /** Per-doc DISTINCT grams — dedup happens inside the row
    * (`array_distinct` over the per-doc gram array, bounded by the
    * document length) before the explode, so no shuffle is ever spent
    * deduplicating; the exploded stream is distinct-per-doc by
    * construction.
    */
  private def gramsDistinctPerDoc(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= gramN)
      .select(
        col("doc_id"),
        explode(expr(
          s"array_distinct(transform(sequence(1, size(w) - ${gramN - 1}), i -> $concatGram))"))
          .as("gram"))

  /** X15 — benchmark decontamination: flag training documents sharing
    * any word-8-gram with the held-out benchmark set (every 50th doc),
    * with the count of distinct shared grams as the evidence column.
    * The synthetic contamination (drop-first-word copies of benchmark
    * docs, ids + 300000) guarantees the result is never vacuous, same
    * derivation on the oracle side.
    *
    * Scale shape (100 TB): the benchmark side is an EVAL SUITE — its
    * size is fixed by humans, not corpus-proportional — so its distinct
    * gram set auto-broadcasts (no hint: Catalyst retracts if someone
    * feeds a giant "benchmark"); the training side streams its raw
    * gram stream through that one broadcast equi-join — linear in
    * corpus grams, NO corpus-wide shuffle — and only the surviving
    * (contaminated) rows reach the `countDistinct` aggregate, which
    * dedups repeated grams the way the old pre-join `distinct` did,
    * on ~10⁻⁴ of the volume (r10).
    */
  /** The decontamination family's (bench, train) sides: every 50th
    * document is the held-out benchmark; the training side is the rest
    * plus one planted drop-first-word copy of each benchmark doc (ids
    * + 300000), so every X15-family result is non-vacuous.
    */
  private def decontamSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 50 === 0)
    val train = d.filter(col("doc_id") % 50 =!= 0)
      .unionByName(bench.select(
        (col("doc_id") + 300000).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
    (bench, train)
  }

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val (bench, train) = decontamSides(s, dir)
    grams(graft.Tables.fanOutForCompute(train)) // r21: gram explode is compute-dense, scan is 1 task
      .join(grams(bench).select("gram").distinct(), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Gram lengths swept by X167 — the shipped X15 length (8) bracketed
    * by a loose half and a strict double, the sensitivity ladder
    * published decontamination studies report.
    */
  private[graft] val decontamSweepNs = Seq(4, 8, 16)

  /** X167 — decontamination gram-size sensitivity (`q_decontam_sweep`):
    * the table an eval-integrity owner reads before trusting X15's
    * n = 8 — per candidate gram length, the benchmark's distinct gram
    * count, how many training docs get flagged, and the total
    * (doc, gram) evidence volume. Short grams over-flag (chance
    * collisions on common phrases — the FP tax), long grams under-flag
    * (any edit breaks the span — the FN risk); the sweep shows where
    * THIS corpus's flag count stabilizes, which is the published
    * justification for 13-gram-class choices restated as a measured
    * corpus property. Same train/bench split and planted contamination
    * as X15, so the n = 8 row is exactly X15's aggregate.
    *
    * Scale: per length, one narrow gram pass over train (the X15
    * shape — no pre-join distinct), a broadcast-able distinct
    * benchmark set (2 % of the corpus), a doc-keyed collapse, a 1-row
    * aggregate; |lengths| = 3 passes total, each linear, none joined
    * to another.
    */
  private def decontamSweep(s: SparkSession, dir: String): DataFrame = {
    val (bench, train) = decontamSides(s, dir)
    // r21: the train side pays the n-gram explode THREE times (one per
    // swept n) over a single-task scan — fan it out once for all three
    val trainF = graft.Tables.fanOutForCompute(train)
    decontamSweepNs.map { n =>
      val bg = gramsN(bench, n).select("gram").distinct()
      val perDoc = gramsN(trainF, n)
        .join(bg, "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("ns"))
      perDoc
        .agg(
          count(lit(1)).as("flagged_docs"),
          coalesce(sum(col("ns")), lit(0L)).as("shared_doc_grams"))
        .crossJoin(broadcast(bg.agg(count(lit(1)).as("bench_grams"))))
        .select(
          lit(n.toLong).as("gram_n"),
          col("bench_grams").cast("long").as("bench_grams"),
          col("flagged_docs").cast("long").as("flagged_docs"),
          col("shared_doc_grams").cast("long").as("shared_doc_grams"))
    }.reduce(_ unionByName _).orderBy("gram_n")
  }

  private def gramSqlExprN(n: Int): String =
    (1 until n).foldLeft("w[i]") { (acc, j) => s"$acc || ' ' || w[i + $j]" }

  private def decontamSweepSql: String = {
    val perN = decontamSweepNs.map { n =>
      s"""tg$n AS (
         |  SELECT DISTINCT doc_id, ${gramSqlExprN(n)} AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
         |       LATERAL unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)
         |  WHERE len(w) >= $n),
         |bg$n AS (
         |  SELECT DISTINCT ${gramSqlExprN(n)} AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) t,
         |       LATERAL unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)
         |  WHERE len(w) >= $n),
         |j$n AS (
         |  SELECT tg.doc_id, count(*) AS ns
         |  FROM tg$n tg JOIN bg$n USING (gram) GROUP BY 1),
         |a$n AS (SELECT count(*) AS fd, COALESCE(sum(ns), 0) AS sg FROM j$n),
         |c$n AS (SELECT count(*) AS bgc FROM bg$n)""".stripMargin
    }.mkString(",\n")
    val selects = decontamSweepNs.map { n =>
      s"""SELECT $n AS gram_n, CAST(bgc AS BIGINT) AS bench_grams,
         |  CAST(fd AS BIGINT) AS flagged_docs, CAST(sg AS BIGINT) AS shared_doc_grams
         |FROM a$n, c$n""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY gram_n")
    s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |train AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
       |  FROM bench),
       |$perN
       |$selects""".stripMargin
  }

  /** (fp basis points, c = −ln p / (ln 2)² as a 4dp literal) — the
    * Bloom sizing constants X172 plans with. Irrational in exact
    * arithmetic, so FIXED as 4dp literals (9.5851 for 1 %, 14.3776
    * for 0.1 %) both engines state identically; k = c·ln 2 uses the
    * 4dp ln 2 = 0.6931 the same way.
    */
  private[graft] val bloomPlanTargets = Seq((100L, 95851L), (10L, 143776L))

  /** X172 — Bloom-filter sizing plan (`q_bloom_plan`): before shipping
    * an X50-style decontamination filter, the parameter table — for
    * each candidate insert set (the benchmark battery X50 actually
    * inserts, and the inverted deployment that indexes the TRAINING
    * grams instead) and each FP target (1 %, 0.1 %): the EXACT item
    * count, required bits m = ⌈n·c⌉, 64-bit words, optimal hash count
    * k = HALF_UP(c·ln 2), and whether the shipped 16384-bit/3-hash
    * filter covers it. At 100 TB the train-side set makes the filter
    * infeasible and the battery-side set keeps it a 2 KiB broadcast —
    * this table is that argument with numbers on it.
    *
    * Numerics: n is an exact distinct count (a gram-dictionary
    * collapse, the X15 shape); all sizing is integer ceil-div against
    * the 4dp literals in [[bloomPlanTargets]]. Scale: two gram passes
    * (one per set) each collapsing to ONE row map-side; the 4-row
    * plan table is pure literal algebra on those two counters.
    */
  private def bloomPlan(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val sets = Seq(
      ("bench_grams", d.filter(col("doc_id") % 50 === 0)),
      // r21: only the corpus-sized side is worth fanning out
      ("train_grams", graft.Tables.fanOutForCompute(d.filter(col("doc_id") % 50 =!= 0))))
    sets.map { case (nm, docsDf) =>
      val n1 = grams(docsDf).select("gram").distinct()
        .agg(count(lit(1)).as("n_items"))
      bloomPlanTargets.map { case (bp, c4) =>
        n1.select(
          lit(nm).as("set_name"),
          lit(bp).as("fp_bp"),
          col("n_items").cast("long").as("n_items"),
          expr(s"CAST((n_items * $c4 + 9999) DIV 10000 AS BIGINT)").as("bits_req"),
          expr(s"CAST(((n_items * $c4 + 9999) DIV 10000 + 63) DIV 64 AS BIGINT)")
            .as("words64_req"),
          lit((2 * c4 * 6931 + 100000000L) / 200000000L).as("hashes_req"),
          (expr(s"(n_items * $c4 + 9999) DIV 10000") <= lit(16384L))
            .as("fits_shipped"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _).orderBy("set_name", "fp_bp")
  }

  private def bloomPlanSql: String = {
    val setsSql = Seq(
      ("bench_grams", "doc_id % 50 = 0"),
      ("train_grams", "doc_id % 50 <> 0"))
    val rows = for ((nm, pred) <- setsSql; (bp, c4) <- bloomPlanTargets) yield {
      val k = (2 * c4 * 6931 + 100000000L) / 200000000L
      s"""SELECT '$nm' AS set_name, CAST($bp AS BIGINT) AS fp_bp,
         |  CAST(n_items AS BIGINT) AS n_items,
         |  CAST((n_items * $c4 + 9999) // 10000 AS BIGINT) AS bits_req,
         |  CAST(((n_items * $c4 + 9999) // 10000 + 63) // 64 AS BIGINT) AS words64_req,
         |  CAST($k AS BIGINT) AS hashes_req,
         |  ((n_items * $c4 + 9999) // 10000 <= 16384) AS fits_shipped
         |FROM n_$nm""".stripMargin
    }
    val counts = setsSql.map { case (nm, pred) =>
      s"""n_$nm AS (
         |  SELECT count(DISTINCT $gramSqlExpr) AS n_items
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE $pred) t,
         |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
         |  WHERE len(w) >= $gramN)""".stripMargin
    }.mkString(",\n")
    s"""WITH $counts
       |${rows.mkString("", "\nUNION ALL\n", "\nORDER BY set_name, fp_bp")}""".stripMargin
  }

  /** X16 — deterministic stratified sampling: per-language keep rates
    * (en 20 %, others 5 % — the mixture-reweighting step of corpus
    * assembly) decided by a salted 32-bit content hash mod 100, NOT by
    * `rand()`: the sample is reproducible run-to-run, engine-to-engine,
    * and under repartitioning — which is what makes a training mix
    * auditable. Emitting the uniform `u` makes the decision checkable
    * downstream.
    *
    * Scale shape: a pure narrow filter on the scan — no shuffle, no
    * state, embarrassingly parallel at any corpus size.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(
        col("doc_id"), col("lang"),
        (h32(concat(lit("smpl"), col("doc_id"))) % 100).as("u"))
      .filter(col("u") < when(col("lang") === "en", 20).otherwise(5))
      .select(col("doc_id"), col("lang"), col("u").cast("long").as("u"))
      .orderBy("doc_id")

  /** X169 — per-source sample-size planning (`q_sample_plan`): before
    * an eval team hand-reviews a sample of each source (quality
    * audits, PII spot checks, annotation batches), the power-analysis
    * table: per source, the sample size needed to estimate mean doc
    * length within ±5 % / ±1 % relative error at 95 % confidence —
    * n ≥ z²·cv² / e² with cv² = σ²/μ² the source's own relative
    * variance. A tight boilerplate-heavy source needs a few dozen
    * docs; a heavy-tailed crawl needs thousands — the table prices
    * exactly that, replacing "review 500 per source" folklore.
    *
    * Numerics: cv² as an exact integer rational — population variance
    * via (n·Q − S²)/S² with S = Σtok, Q = Σtok² on DECIMAL(38,0)
    * (n ≤ 10¹¹ docs/source × tok ≤ 10⁴ keeps 10⁶·n·Q ≤ 10³⁶ inside 38
    * digits), snapped to millionths HALF_UP; n_req = ⌈z²/e² · cv²⌉
    * with z²/e² the exact 4dp literals 1536.64 (±5 %) and 38416
    * (±1 %) — pure integer ceil-div both engines state identically.
    * Scale: one narrow scan (token count per doc), one ≤|sources|
    * aggregate with map-side partials — the X2 shape; nothing else.
    */
  private def samplePlan(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("tok").cast("decimal(38,0)")).as("sx"),
        sum((col("tok") * col("tok")).cast("decimal(38,0)")).as("qx"))
      .select(
        col("source"),
        col("n").cast("long").as("n_docs"),
        Extensions.share4("sx", "n").as("mean_tok"),
        expr(Extensions.sq4("100 * (n * qx - sx * sx)", "sx * sx")).as("cv2_ppm"))
      .select(
        col("source"), col("n_docs"), col("mean_tok"),
        (col("cv2_ppm") / lit(1000000.0)).as("cv2"),
        expr("CAST((153664 * cv2_ppm + 99999999) DIV 100000000 AS BIGINT)")
          .as("n_req_5pct"),
        expr("CAST((38416 * cv2_ppm + 999999) DIV 1000000 AS BIGINT)")
          .as("n_req_1pct"))
      .orderBy("source")

  private val samplePlanSql =
    """WITH d AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |a AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(tok AS HUGEINT)) AS sx,
      |    sum(CAST(tok AS HUGEINT) * tok) AS qx
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT source, n,
      |    CAST((20000 * sx + n) // (2 * n) AS BIGINT) / 10000.0 AS mean_tok,
      |    CAST(CASE WHEN sx = 0 THEN 0 ELSE
      |      (2 * 1000000 * (n * qx - sx * sx) + sx * sx) // (2 * sx * sx)
      |    END AS BIGINT) AS cv2_ppm
      |  FROM a)
      |SELECT source, CAST(n AS BIGINT) AS n_docs, mean_tok,
      |  cv2_ppm / 1000000.0 AS cv2,
      |  CAST((153664 * cv2_ppm + 99999999) // 100000000 AS BIGINT) AS n_req_5pct,
      |  CAST((38416 * cv2_ppm + 999999) // 1000000 AS BIGINT) AS n_req_1pct
      |FROM c ORDER BY source""".stripMargin

  private def gramSqlExpr: String =
    (1 until gramN).foldLeft("w[i]") { (acc, j) => s"$acc || ' ' || w[i + $j]" }

  /** Email pattern shared by the redactor and its oracle: basic
    * classes only, identical semantics in Java regex and DuckDB's RE2.
    */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** X19 — PII redaction: count and mask email addresses per document
    * (the privacy-scrubbing pass every released corpus runs). The
    * synthetic corpus carries no PII, so — the same pattern as the
    * dedup family's planted near-dups — every 20th doc gets a
    * deterministic planted address derived from its id in BOTH
    * engines, making the redactor's work non-vacuous and the planted
    * rows a built-in truth set (CurationSpec pins exactly those docs
    * flag n_emails ≥ 1). The output carries md5 of the redacted text,
    * not the text: the hash gate then certifies byte-identical
    * redaction without shipping documents around.
    *
    * Scale shape: pure narrow per-row work (regex + md5), no shuffle
    * but the final order-by; embarrassingly parallel at any size.
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 20 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id"), lit("@mail.example")))
          .otherwise(col("text")).as("text"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        md5(regexp_replace(col("text"), emailRe, "<EMAIL>")).as("redacted_md5"))
      .orderBy("doc_id")

  /** X25 — corpus mixing weights: the temperature-resampling rule
    * multilingual pretraining uses to up-weight low-resource slices
    * (p_l ∝ share_l^(1/T)); T = 2, i.e. sqrt, deliberately — sqrt is
    * IEEE-correctly-rounded in BOTH engines, so the only float risk
    * is the final normalizing division, absorbed by round-4 (a
    * general pow(x, 1/T) would reopen the libm-parity question the
    * ln bit-audit settled for q_tfidf).
    *
    * Scale shape: one count aggregate over the corpus (map-side
    * partials) collapses to a ≤|languages|-row dictionary; the
    * normalizing window runs over THAT dictionary, never the corpus
    * — the "window over aggregate, not over events" rule the
    * sessionize/search operators follow.
    *
    * The normalizing sum is a float accumulation, so unlike the
    * integer-exact siblings its order matters in principle: both
    * sides state an ORDERED full-frame window (accumulate in lang
    * order), and the residual risk — a reassociation ulp landing a
    * quotient on a round-4 boundary — is pinned away by CurationSpec:
    * measured boundary distance is ≥ 7e-6 absolute at every SF,
    * ~10 orders of magnitude above 1 ulp of a 5-term sum.
    */
  private def mixWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy().orderBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        round(sqrt(col("n_docs")) / sum(sqrt(col("n_docs"))).over(w), 4))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"), col("weight"))
      .orderBy("lang")
  }

  /** X152 — per-benchmark contamination report (`q_decontam_report`):
    * X15 flags TRAINING docs (the side you filter); the side an
    * eval-integrity owner must read is this one — per benchmark item:
    * how many training docs touch it, how much of it the WORST
    * offender reproduces, and whether the item is BURNED (the worst
    * offender carries > half its grams — held-out loss on a burned
    * item measures memorization, so it must be dropped from the suite
    * or the offenders from the corpus; that asymmetric choice is why
    * the report is per-ITEM, not per-training-doc). Riding: the
    * burned share of the suite — the one number that decides whether
    * the benchmark is still a benchmark. On the shipped corpus the
    * X15 plant (a drop-first-word copy of every bench doc) burns
    * every item by construction — the honest worst-case read;
    * CurationSpec drives the unburned and untouched branches through
    * the same factored core.
    *
    * Scale shape: both gram streams are distinct-per-doc in-row; the
    * eval suite is human-sized, so its gram table broadcasts into
    * the pair join (the X15 argument, keeping doc ids this time);
    * pair volume is contamination-proportional; the per-item rollup
    * and the riding share are dictionary work (≤ǀsuiteǀ rows).
    */
  private[graft] def decontamReportOf(bench: DataFrame, train: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bg = gramsDistinctPerDoc(bench).withColumnRenamed("doc_id", "bench_id")
    val tg = gramsDistinctPerDoc(train)
    val pairs = tg.join(broadcast(bg), "gram")
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
    val items = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("n_grams"))
    items
      .join(
        pairs.groupBy(col("bench_id"))
          .agg(count(lit(1)).as("n_contaminated"), max(col("shared")).as("max_shared")),
        Seq("bench_id"), "left")
      .select(
        col("bench_id"),
        col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).cast("long").as("n_contaminated"),
        coalesce(col("max_shared"), lit(0L)).cast("long").as("max_shared"))
      .withColumn("burned",
        when(col("max_shared") * 2 > col("n_grams"), 1L).otherwise(0L))
      .withColumn("nb", sum(col("burned")).over(wAll))
      .withColumn("ni", count(lit(1)).over(wAll))
      .select(
        col("bench_id"), col("n_grams"), col("n_contaminated"),
        col("max_shared"), col("burned"),
        Extensions.share4("nb", "ni").as("suite_burned_share"))
      .orderBy("bench_id")
  }

  private def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val (bench, train) = decontamSides(s, dir)
    decontamReportOf(bench, train)
  }

  private def decontamReportSql: String =
    s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |train AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
       |  FROM bench),
       |tg AS (
       |  SELECT DISTINCT doc_id, $gramSqlExpr AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
       |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
       |  WHERE len(w) >= $gramN),
       |bg AS (
       |  SELECT DISTINCT doc_id AS bench_id, $gramSqlExpr AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) t,
       |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
       |  WHERE len(w) >= $gramN),
       |pairs AS (
       |  SELECT bg.bench_id, tg.doc_id, count(*) AS shared
       |  FROM tg JOIN bg ON bg.gram = tg.gram
       |  GROUP BY 1, 2),
       |items AS (SELECT bench_id, count(*) AS n_grams FROM bg GROUP BY 1),
       |agg AS (
       |  SELECT i.bench_id, i.n_grams,
       |    COALESCE(p.n_contaminated, 0) AS n_contaminated,
       |    COALESCE(p.max_shared, 0) AS max_shared
       |  FROM items i LEFT JOIN (
       |    SELECT bench_id, count(*) AS n_contaminated, max(shared) AS max_shared
       |    FROM pairs GROUP BY 1) p USING (bench_id)),
       |b AS (
       |  SELECT *, CASE WHEN max_shared * 2 > n_grams THEN 1 ELSE 0 END AS burned
       |  FROM agg)
       |SELECT bench_id, CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(n_contaminated AS BIGINT) AS n_contaminated,
       |  CAST(max_shared AS BIGINT) AS max_shared,
       |  CAST(burned AS BIGINT) AS burned,
       |  CAST((20000 * sum(burned) OVER () + count(*) OVER ())
       |    // (2 * count(*) OVER ()) AS BIGINT) / 10000.0 AS suite_burned_share
       |FROM b ORDER BY bench_id""".stripMargin

  /** X151's swept temperatures. Powers of two ONLY: p ∝ n^(1/T) is
    * computed as an iterated `sqrt` chain (T=8 ⇒ sqrt∘sqrt∘sqrt),
    * never `pow(x, 1/T)` — sqrt is IEEE-correctly-rounded in both
    * engines, so the identical composition yields the identical
    * double, the X25 argument extended to a sweep (a libm pow would
    * reopen the parity question per temperature).
    */
  private[graft] val mixTemperatures = Seq(1, 2, 4, 8)

  /** X151's weight p ∝ n^(1/T) of a count `n` at temperature column
    * `t`, as SQL text both engines evaluate identically (sqrt only);
    * shared by the batch query, its oracle and `Gateway.temperatureFeed`.
    */
  private[graft] def temperatureWeight(n: String): String =
    s"CASE WHEN t = 1 THEN CAST($n AS DOUBLE) " +
      s"WHEN t = 2 THEN sqrt($n) " +
      s"WHEN t = 4 THEN sqrt(sqrt($n)) " +
      s"ELSE sqrt(sqrt(sqrt($n))) END"

  /** X151 — mixture-temperature sweep (`q_mix_temperature`): the
    * tuning table behind X25's single knob — multilingual/multi-source
    * pretraining picks T by reading exactly this grid (the
    * PaLM/Llama "alpha sweep"): per (T, slice): docs, the resampled
    * weight p ∝ n^(1/T), and `epochs` = weight·N/n — the up/down-
    * sampling factor that slice would train at under the resampling,
    * i.e. the Muennighoff repetition-risk number (a low-resource
    * slice at T=8 may reach epochs ≫ 4, the published degradation
    * cliff). Riding per T: max epochs (the sweep's verdict column —
    * the T you pick is the largest flattening whose worst slice
    * stays under your repetition budget). T=1 is the natural
    * distribution (weight = share, epochs = 1 for every slice — the
    * honest baseline row), and the T=2 rows provably equal X25's
    * declared weights (CurationSpec pins it).
    *
    * Float discipline (the X25 pattern, swept): the only float work
    * is the iterated-sqrt chain and the final normalizing division,
    * both the identical composition in both engines; every quotient
    * rounds to 4dp, and CurationSpec measures the distance of every
    * (T, slice) quotient to its rounding boundary at both SFs
    * (≥ 5e-6 — ulp-reassociation cannot flip a digit).
    *
    * Scale: ONE count aggregate collapses the corpus to the
    * ≤ǀslicesǀ dictionary; the temperature grid is a ǀTǀ-row
    * broadcast cross join ON THE DICTIONARY; windows run per T over
    * ≤ǀslicesǀ rows. One scan, one exchange.
    */
  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("t")).orderBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = temperatureWeight("n_docs")
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        s.createDataFrame(s.sparkContext.parallelize(
          mixTemperatures.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("t",
              org.apache.spark.sql.types.IntegerType, nullable = false))))))
      .withColumn("p", expr(p))
      .withColumn("sp", sum(col("p")).over(w))
      .withColumn("nn", sum(col("n_docs")).over(w))
      .withColumn("weight", round(col("p") / col("sp"), 4))
      .withColumn("epochs", round(col("p") * col("nn") / (col("sp") * col("n_docs")), 4))
      .select(
        col("t").cast("long").as("t"),
        col("lang"),
        col("n_docs").cast("long").as("n_docs"),
        col("weight"),
        col("epochs"),
        max(col("epochs")).over(w).as("max_epochs"))
      .orderBy("t", "lang")
  }

  private def mixTemperatureSql: String = {
    val p = temperatureWeight("n_docs")
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
       |ts AS (SELECT unnest([${mixTemperatures.mkString(", ")}]) AS t),
       |g AS (SELECT ts.t, c.lang, c.n_docs, $p AS p FROM c, ts),
       |n AS (
       |  SELECT t, lang, n_docs, p,
       |    sum(p) OVER (PARTITION BY t ORDER BY lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS sp,
       |    sum(n_docs) OVER (PARTITION BY t) AS nn
       |  FROM g),
       |r AS (
       |  SELECT CAST(t AS BIGINT) AS t, lang, n_docs,
       |    round(p / sp, 4) + 0 AS weight,
       |    round(p * nn / (sp * n_docs), 4) + 0 AS epochs
       |  FROM n)
       |SELECT t, lang, n_docs, weight, epochs,
       |  max(epochs) OVER (PARTITION BY t) AS max_epochs
       |FROM r ORDER BY t, lang""".stripMargin
  }

  /** Per-source sample size for the weighted sampler. */
  private val esSampleM = 15

  /** X49 — deterministic WEIGHTED sampling without replacement
    * (Efraimidis–Spirakis, IPL 2006): keep the M docs per source with
    * the best exponential-race keys, where doc i's key is
    * −ln(uᵢ)/wᵢ (smaller = better) with uᵢ a salted hash-uniform and
    * wᵢ = n_chars — so inclusion probability is proportional to
    * document size, the standard "sample by mass, not by count"
    * corpus draw. Like X16/X45 the randomness is content-hash
    * derived, never `rand()`: the sample is reproducible
    * run-to-run, engine-to-engine, and under repartitioning. The key
    * arithmetic ((h+1)/2³², ln, divide) is correctly-rounded IEEE on
    * identical inputs, so both engines rank identical doubles.
    *
    * Scale shape: keys are per-row narrow work; per-source ranking
    * goes through [[Extensions.rankedByRange]] (range-partitioned,
    * no source-keyed window on a potentially-Zipf source
    * distribution — the X38 discipline).
    */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        ((-log((h32(concat(lit("ws"), col("doc_id").cast("string"))) + 1) / lit(4294967296.0)))
          / col("n_chars")).as("mkey"))
    Extensions.rankedByRange(d, "source", Seq("mkey", "doc_id"), "smp_rank")
      .filter(col("smp_rank") <= esSampleM)
      .select(col("doc_id"), col("source"), col("smp_rank").cast("long").as("smp_rank"))
      .orderBy("doc_id")
  }

  /** Bloom geometry for X50: 16384 bits (256 words, 2 KiB), 3
    * hashes. At the synthetic eval set's ~600 distinct grams the fill
    * is ~11%, so gram-level false positives run ~0.1% — present (the
    * FP accounting stays non-vacuous, the X46 philosophy) without
    * drowning the exact signal; a deployment sizes bits/gram to its
    * FP budget the standard way.
    */
  private val bloomBits = 16384
  private val bloomK = 3

  private def bloomPosSql(i: Int): String =
    s"('0x' || substr(md5('bl' || gram), ${1 + 8 * i}, 8))::BIGINT % $bloomBits"

  /** X50 — Bloom-filter decontamination, the 100 TB scale path for
    * X15: instead of (semi-)joining training grams against the
    * benchmark gram SET (broadcast grows with the eval battery), fold
    * the benchmark grams into a [[bloomBits]]-bit Bloom filter and
    * test each training gram against it with per-row bit arithmetic —
    * the broadcast is 2 KiB no matter how many benchmarks are in
    * the battery, and the only corpus shuffle left is the per-doc
    * flag count. One-sided error in the safe direction: every truly
    * shared gram is flagged (no false negatives — contamination is
    * never missed), false positives quarantine extra docs, the cheap
    * failure. CurationSpec pins the flagged set ⊇ X15's exact set.
    *
    * Both engines derive the SAME filter (md5-prefix positions,
    * integer bit ops), so the oracle — which recomputes membership
    * relationally against the distinct-position set — is exact,
    * false positives included.
    *
    * Measured dead end (r17), kept so it isn't re-tried: a cheap
    * xxhash64 pre-screen Bloom over the same bench gram set (so true
    * members can never fail it) to spare the dominant md5 for ~89%
    * of training grams. It is output-invariant ONLY for true
    * members — the md5 bloom's FALSE POSITIVES are part of the
    * declared contract (the oracle recomputes membership FPs
    * included), and the pre-screen rightly rejects them since they
    * are not in the bench set: 23 → 11 rows at sf0.01, all 12 lost
    * rows 1-gram FP docs. Any pre-screen keyed by a different hash
    * changes the FP set, so the md5-per-gram cost is irreducible
    * under this operator's exact-FP contract (1.60 s standalone at
    * sf0.1 — within budget).
    */
  private def decontamBloom(s: SparkSession, dir: String): DataFrame = {
    val (bench, train) = decontamSides(s, dir)
    // The k positions are DISJOINT 8-hex-char slices of ONE md5 — one
    // digest per gram instead of k; the digest over the ~60-char gram
    // string is the dominant per-row cost of the membership scan.
    def posFrom(h: Column, i: Int): Column =
      conv(substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % bloomBits
    val bloomMap = grams(bench).select(col("gram")).distinct()
      .select(md5(concat(lit("bl"), col("gram"))).as("h"))
      .select(explode(array((0 until bloomK).map(i => posFrom(col("h"), i)): _*)).as("p"))
      .groupBy(expr("CAST(p DIV 64 AS BIGINT)").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))").as("m"))
      .agg(map_from_arrays(collect_list(col("w")), collect_list(col("m"))).as("bm"))
    def member(i: Int): String = {
      val p = s"pmod(CAST(conv(substring(h, ${1 + 8 * i}, 8), 16, 10) " +
        s"AS BIGINT), $bloomBits)"
      s"(coalesce(element_at(bm, CAST($p DIV 64 AS BIGINT)), CAST(0 AS BIGINT)) & " +
        s"shiftleft(CAST(1 AS BIGINT), CAST($p % 64 AS INT))) != 0"
    }
    // r21: one md5 per distinct train gram is the dominant cost and ran
    // on ONE task (single-row-group scan) — fan the ~500-row train
    // corpus out across the cores before the gram explode + digest
    gramsDistinctPerDoc(graft.Tables.fanOutForCompute(train))
      .select(col("doc_id"), md5(concat(lit("bl"), col("gram"))).as("h"))
      .crossJoin(broadcast(bloomMap)) // exactly 1 row (64 words) by construction
      .filter(expr((0 until bloomK).map(member).mkString(" AND ")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged"))
      .select(col("doc_id"), col("n_flagged").cast("long").as("n_flagged"))
      .orderBy("doc_id")
  }

  /** X47 — first-occurrence novelty: per document, the fraction of
    * its distinct word-8-grams whose corpus-wide FIRST occurrence
    * (minimum doc_id — corpus position) is this document. The
    * dedup-family diagnostic that separates "document repeats known
    * text" (novelty → 0, near-dup candidates, boilerplate) from
    * "document contributes new text" (novelty → 1) without pairwise
    * comparison — first-occurrence attribution is an aggregate, not
    * a join of documents against documents.
    *
    * Scale shape: gram dedup is per-row ([[gramsDistinctPerDoc]]),
    * and the gram stream is touched by exactly ONE gram-keyed
    * aggregate (map-side partials absorb hot boilerplate grams) —
    * after it everything is DOC-cardinality: novel counts are the
    * first-occurrence table re-grouped by first_doc, denominators are
    * per-row array sizes, and the two meet in a doc-keyed join of two
    * |docs|-sized tables. The first draft joined the gram-cardinality
    * first-occurrence table back against the gram stream — a
    * corpus-proportional broadcast (or a second corpus-wide shuffle)
    * at scale; nothing in this shape broadcasts anything
    * corpus-proportional. Never corpus × corpus.
    */
  private def novelty(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= gramN)
      .select(col("doc_id"),
        size(expr(s"array_distinct(transform(sequence(1, size(w) - ${gramN - 1}), " +
          s"i -> $concatGram))")).as("n_grams"))
    val novel = gramsDistinctPerDoc(Tables(s, dir, "documents"))
      .groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, perDoc("doc_id") === novel("first_doc"), "left")
      .select(
        col("doc_id"),
        col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"), 4)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** X45 — mixture MATERIALIZATION: execute X25's temperature
    * resampling as a deterministic per-document accept/reject, the
    * step that turns mixing weights into an actual training corpus.
    * sqrt-temperature target shares imply per-language sampling rates
    * ∝ 1/sqrt(n_l); normalizing so the rarest language keeps
    * everything gives rate_l = sqrt(n_min / n_l). Each document draws
    * a salted hash-uniform u ∈ [0, 1e6) and is kept iff
    * u < floor(1e6 · sqrt(n_min / n_l)) — the threshold is computed
    * once per language on a |langs|-row table from IEEE
    * correctly-rounded ops (divide, sqrt, multiply, floor), so both
    * engines derive bit-identical integer thresholds and the per-row
    * compare is integer-exact. No float ever touches a per-document
    * row.
    *
    * Scale shape: one |langs|-bounded aggregate, a broadcast
    * equi-join of its thresholds back onto the corpus, and a per-row
    * filter — the corpus itself never shuffles (the final order-by is
    * the declared-query presentation contract, not the operator). At
    * 100 TB the rate table is still five rows.
    */
  /** X45's per-language ppm accept thresholds with their counts —
    * factored so X120's convergence audit scores EXACTLY the
    * thresholds the sampler applies.
    */
  private def mixThr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("n_min", min(col("n_l")).over(w))
      .select(col("lang"), col("n_l"),
        floor(lit(1000000.0) * sqrt(col("n_min").cast("double") / col("n_l")))
          .cast("long").as("thr"))
  }

  private def mixSample(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        (h32(concat(lit("mix"), col("doc_id").cast("string"))) % 1000000).as("u"))
      .join(broadcast(mixThr(s, dir).select(col("lang"), col("thr"))), Seq("lang"))
      .filter(col("u") < col("thr"))
      .select(col("doc_id"), col("lang"), col("u").cast("long").as("u"))
      .orderBy("doc_id")
  }

  /** X120 — mixture-convergence audit (`q_mix_convergence`): the
    * sampler-drift canary a pipeline runs beside X45 — the
    * materialized mix is a DETERMINISTIC binomial draw per language
    * (each doc's salted hash-uniform against the X25 threshold), so
    * each language's achieved keep count must sit within binomial
    * noise of n_l·thr; a row outside the 3σ band means the hash, the
    * weights table, or the corpus composition drifted since the
    * weights were computed — the exact failure a mix audit exists to
    * catch. Per language: corpus count, the ppm threshold, kept
    * count, achieved keep rate (ppm, integer HALF_UP), and the
    * integer 3σ verdict (kept·10⁶ − n_l·thr)² ≤ 9·n_l·thr·(10⁶−thr)
    * — exact integers end-to-end (the rarest language has thr = 10⁶
    * and variance 0, so its verdict demands kept == n_l exactly —
    * the deterministic boundary, exercised on every run). The
    * all-pass state is the HEALTHY state (the X102 "true by
    * construction, materialized because an auditor checks it"
    * precedent); CurationSpec additionally drives a FAIL through the
    * same formula on a perturbed threshold.
    *
    * Scale shape: ONE corpus pass collapses map-side to the
    * ≤ǀlangsǀ dictionary (count + conditional count); thresholds
    * ride the same dictionary. Bound headroom: (kept·10⁶)² caps the
    * audit at ~10¹⁶ docs per language in DECIMAL(38,0) — beyond any
    * real slice.
    */
  private def mixConvergence(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables(s, dir, "documents")
      .select(col("lang"),
        (h32(concat(lit("mix"), col("doc_id").cast("string"))) % 1000000).as("u"))
      .join(broadcast(mixThr(s, dir)), Seq("lang"))
      .groupBy(col("lang"), col("n_l"), col("thr"))
      .agg(sum(when(col("u") < col("thr"), 1L).otherwise(0L)).as("kept"))
    perLang
      .withColumn("d", dec(col("kept")) * lit(1000000L) - dec(col("n_l")) * col("thr"))
      .select(col("lang"), col("n_l").cast("long").as("n_l"),
        col("thr").cast("long").as("thr_ppm"), col("kept").cast("long").as("kept"),
        expr(Extensions.sq4("100 * kept", "n_l")).as("achieved_ppm"),
        (dec(col("d")) * col("d") <=
          dec(lit(9L)) * col("n_l") * col("thr") * (lit(1000000L) - col("thr")))
          .cast("long").as("ok3sig"))
      .orderBy("lang")
  }

  private def mixConvergenceSql: String =
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
      |          FROM documents GROUP BY lang),
      |r AS (SELECT lang, n_l, min(n_l) OVER () AS n_min FROM c),
      |t AS (SELECT lang, n_l,
      |        CAST(floor(1000000.0 * sqrt(CAST(n_min AS DOUBLE) / n_l)) AS BIGINT) AS thr
      |      FROM r),
      |k AS (
      |  SELECT d.lang,
      |    sum(CASE WHEN ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 1000000 < t.thr THEN 1 ELSE 0 END) AS kept
      |  FROM documents d JOIN t USING (lang) GROUP BY 1)
      |SELECT t.lang, t.n_l, t.thr AS thr_ppm, CAST(k.kept AS BIGINT) AS kept,
      |  CAST((2 * 1000000 * k.kept + t.n_l) // (2 * t.n_l) AS BIGINT) AS achieved_ppm,
      |  CAST((CAST(k.kept AS HUGEINT) * 1000000 - CAST(t.n_l AS HUGEINT) * t.thr)
      |     * (CAST(k.kept AS HUGEINT) * 1000000 - CAST(t.n_l AS HUGEINT) * t.thr)
      |    <= 9 * CAST(t.n_l AS HUGEINT) * t.thr * (1000000 - t.thr) AS BIGINT) AS ok3sig
      |FROM t JOIN k USING (lang) ORDER BY lang""".stripMargin

  /** X35 — the composed curation verdict: per document, the three
    * narrow quality gates (X9 stopword language-ID, X10
    * length/type-token quality, X20 top-bigram repetition) and the
    * final keep decision — the query a pipeline actually
    * materializes; `filter(is_kept = 1)` IS the filtered corpus.
    *
    * The point of composing is the SCAN COUNT: run as three separate
    * queries the gates read the corpus three times and the repetition
    * gate shuffles a (doc, bigram) stream; composed, all three are
    * per-row HOF arithmetic over one token split — ONE corpus scan,
    * ZERO exchanges except the final order-by (PlanAuditSpec-pinned).
    * The within-doc bigram max that X20 computes by explode+groupBy
    * is here the longest equal-adjacent run of the SORTED bigram
    * array — O(k log k) per ≤100-token document (r11; the original
    * count-per-distinct HOF was O(k²) nominal and O(k³) measured, see
    * [[verdictGates]]) — per-row work bounded by the document length
    * cap, NOT corpus-proportional, so the narrow form wins at any
    * scale (the declared X20 stays the general shape for unbounded
    * documents).
    *
    * All gates are integer-exact (counts and integer comparisons), so
    * the oracle is hash-identical by construction.
    */
  private def curateVerdict(s: SparkSession, dir: String): DataFrame =
    verdictGates(Tables(s, dir, "documents")).orderBy("doc_id")

  /** The gate projection itself, factored off the batch query because
    * it is STATELESS NARROW work — no shuffle, no state, no watermark
    * — and therefore runs unchanged on a streaming frame
    * (`readStream` of a document feed → this projection → sink is the
    * online admission filter; CurationSpec pins streaming output ≡
    * batch on the same rows). Input needs (doc_id, text).
    */
  private[graft] def verdictGates(docs: DataFrame): DataFrame =
    withGateVerdicts(docs.select(col("doc_id"), col("text")))
      .select(
        col("doc_id"), col("is_en"), col("is_quality"),
        col("is_repetitive"), col("is_kept"))

  /** The gate verdicts APPENDED to the input frame (text and any
    * carried columns preserved) — what a composed pipeline needs: the
    * admitted corpus is `filter(is_kept = 1)` of this, with the text
    * still in hand for the downstream dedup/pack stages.
    */
  private[graft] def withGateVerdicts(docs: DataFrame): DataFrame = {
    // HOF discipline (the VectorOps.normalize rule, relearned the hard
    // way in r11): HOF ARGUMENTS evaluate once per row, LAMBDA BODIES
    // once per element — and the optimizer inlines intermediate
    // columns into lambda bodies, so a lambda that references `w` or
    // `bgs` re-evaluates split(text) per element: the original
    // element_at(w, i) bigram build plus the filter(bgs, …) count
    // inside the aggregate made this projection O(k³) per document
    // (measured 661 docs/s). Every lambda below references ONLY its
    // lambda variables; arrays ride in argument position:
    //  - bigrams via zip_with over two slices (arguments);
    //  - top-bigram count as the longest equal-adjacent run of the
    //    SORTED bigram array — one O(k) aggregate pass with a struct
    //    accumulator, same multiset max as the count-per-distinct
    //    form (CurationSpec pins gate ≡ the declared X20 query).
    val bgs = expr(
      "CASE WHEN size(w) >= 2 THEN zip_with(" +
        "slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
        "(a, b) -> concat(a, ' ', b)) ELSE array() END")
    val maxRun = expr(
      "aggregate(array_sort(bgs), " +
        "named_struct('best', 0, 'run', 0, 'prev', CAST(NULL AS STRING)), " +
        "(acc, x) -> named_struct(" +
        "  'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1)), " +
        "  'run', IF(x <=> acc.prev, acc.run + 1, 1), " +
        "  'prev', x), " +
        "acc -> acc.best)")
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("bgs", bgs)
      .withColumn("is_en",
        (size(expr(s"filter(w, x -> x IN ($stopListSql))")) * 10 >= size(col("w")))
          .cast("long"))
      .withColumn("is_quality",
        (size(col("w")) >= 20 &&
          size(array_distinct(col("w"))) * 10 >= size(col("w")) * 3)
          .cast("long"))
      .withColumn("is_repetitive",
        (maxRun * 5 > size(col("bgs"))).cast("long"))
      .drop("w", "bgs")
      .withColumn("is_kept",
        (col("is_en") === 1 && col("is_quality") === 1 && col("is_repetitive") === 0)
          .cast("long"))
  }

  private[graft] val stopListSql =
    "'the', 'a', 'of', 'to', 'and', 'is', 'in'"

  /** Per-source document cap — operator config (the C4-style "domain
    * cap" dial a crawl pipeline sets to stop any one site dominating
    * the mix).
    */
  private[graft] val sourceCapM = 10L

  /** X38 — per-source contribution caps: keep at most M documents per
    * source, chosen by a deterministic salted-hash order (reproducible
    * across runs/engines/partitionings — the X16 salted-uniform
    * mechanism aimed at per-group selection instead of sampling).
    * `filter(is_kept = 1)` IS the capped corpus; the rank column keeps
    * the decision auditable.
    *
    * Scale shape (100 TB): sources are Zipf (one hot domain is the
    * norm in crawls), so a source-keyed window would put the hottest
    * domain in one sort task — ranks come from
    * [[Extensions.rankedByRange]] instead (range partition on
    * (source, hash): per-(partition, source) counts → broadcast
    * offsets → offset + local rank; the largest serial unit is one
    * range partition, never a whole source). The oracle states the
    * textbook `row_number` window, so every verify run pins
    * distributed ≡ textbook — the X31 precedent.
    */
  private def sourceCap(s: SparkSession, dir: String): DataFrame =
    sourceCapFrom(Tables(s, dir, "documents")).orderBy("doc_id")

  /** The cap rank + verdict over an arbitrary (doc_id, source) frame
    * — for composed pipelines capping a derived (already gated and
    * deduped) corpus instead of the raw table.
    */
  private[graft] def sourceCapFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .select(
        col("doc_id"), col("source"),
        md5(concat(lit("cap"), col("doc_id").cast("string"))).as("h"))
    Extensions.rankedByRange(d, "source", Seq("h", "doc_id"), "src_rank")
      .select(
        col("doc_id"), col("source"),
        col("src_rank").cast("long").as("src_rank"),
        when(col("src_rank") <= sourceCapM, 1L).otherwise(0L).as("is_kept"))
  }

  /** X39 — calibrated quality blend: per document, the percentile
    * rank of each raw quality signal (length, type-token ratio, mean
    * token length) and their mean — the score-calibration step an
    * ensemble filter runs because raw signals live on incomparable
    * scales (20 tokens vs 37% TTR vs 4.1 chars): percentile ranks are
    * scale-free, so the blend weights signals equally instead of by
    * arbitrary units. Ranks are tie-broken by doc_id, so both rank
    * columns are exact integer permutations and the blend is a ratio
    * of integers < 2⁵³ — identical IEEE quotient in both engines (the
    * X29 rho argument).
    *
    * Scale shape (100 TB): each percentile is a GLOBAL ranking — the
    * single-sort-task trap — so all three come from
    * [[Extensions.rankedByRange]] under a constant group (the X31
    * declared-path use), and the corpus count rides a broadcast
    * one-row stats table (the X18 pattern). The oracle states the
    * three textbook `row_number() OVER (ORDER BY …)` windows, pinning
    * distributed ≡ textbook on every verify run.
    */
  private def qualityBlend(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    // THREE INDEPENDENT rankings joined on doc_id, not one frame
    // ranked thrice (the r14 payload-pruning find, see q_quality_cut):
    // a non-key column riding through rankedByRange gets pruned below
    // the range exchange in the offsets branch only, canonical
    // equality dies, and the branches sample their OWN split points —
    // the nested form executed 8 sampled exchanges instead of 3.
    // Each ranking's input carries ONLY range keys (g, value,
    // doc_id), so its two branches stay provably one exchange; the
    // doc_id equi-joins are the same class the fate table plans.
    def rankOf(value: Column, name: String, out: String): DataFrame =
      Extensions.rankedByRange(
        Tables(s, dir, "documents")
          .select(col("doc_id"), value.as(name)).withColumn("g", lit(1)),
        "g", Seq(name, "doc_id"), out)
        .select(col("doc_id"), col(out))
    val rLen = rankOf(size(w).cast("long"), "n_tokens", "r_len")
    val rTtr = rankOf(
      size(array_distinct(w)).cast("double") * 100 / size(w), "ttr", "r_ttr")
    val rAtl = rankOf(
      aggregate(transform(w, t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("double") / size(w), "atl", "r_atl")
    val stats = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    rLen.join(rTtr, "doc_id").join(rAtl, "doc_id").crossJoin(broadcast(stats))
      .select(
        col("doc_id"),
        col("r_len").cast("long").as("r_len"),
        col("r_ttr").cast("long").as("r_ttr"),
        col("r_atl").cast("long").as("r_atl"),
        // Degenerate single-document corpus: Spark's non-ANSI x/0 is NULL
        // while DuckDB's IEEE divide is NaN — guard BOTH sides to NULL
        // (matching CASE WHEN in the oracle) so the engines agree.
        when(col("n_docs") > 1,
          round((col("r_len") + col("r_ttr") + col("r_atl") - lit(3L)).cast("double") /
            (lit(3L) * (col("n_docs") - lit(1L))), 4)).as("blend"))
      .orderBy("doc_id")
  }

  /** X58 — DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every raw document by log p_target(doc) − log p_raw(doc) under
    * bag-of-bigrams models of a target (here the `en` slice — the
    * "looks like the high-quality reference corpus" proxy; a real run
    * points this at Wikipedia) and of the raw corpus itself. Docs
    * that score high look more target-like than corpus-typical and
    * get resampled up — the principled replacement for a hand-tuned
    * quality-blend when a trusted target corpus exists (complements
    * X39: blend = hand-weighted signals, DSIR = distribution match).
    *
    * Add-1 smoothing over the RAW feature space (every corpus bigram;
    * target-absent bigrams get mass 1/(T+B)) keeps every ln finite —
    * raw-absent bigrams cannot occur in scoring because the feature
    * stream is corpus text.
    *
    * Numerics (the X48/X51 discipline): both ln terms are snapped to
    * 1e-6 fixed point PER BIGRAM in the bounded dictionary, their
    * exact-integer difference is weighted by the exact per-doc count,
    * and the per-doc total is SUMMED AS INTEGERS — order-independent
    * where a double sum is partition-order dependent.
    *
    * Scale shape: q_lm_score's exactly — the (doc, bigram) stream
    * joins ONE vocabulary-bounded dictionary (Heaps-law sublinear;
    * no hint: auto-broadcast while small, AQE beyond), then one
    * doc-keyed aggregate with map-side partials; the three scalar
    * totals ride the dictionary rows, never a corpus-proportional
    * broadcast.
    */
  /** The (doc, bigram) occurrence stream of `docs` (doc_id, …, text);
    * docs under 2 words drop out (no bigram).
    */
  private[graft] def bigramPairsOf(docs: DataFrame, carry: Column*): DataFrame =
    docs
      .select(col("doc_id") +: carry :+ split(col("text"), " ").as("w"): _*)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id") +: carry :+ explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
          .stripMargin)).as("bg"): _*)

  /** X58 factored: the smoothed log-ratio dictionary is built from
    * `corpus` (doc_id, lang, text — the raw model AND the target's
    * `en` slice), weights are emitted for `scoreDocs` (doc_id, text).
    * The standalone query scores the whole corpus; the composed
    * pipeline scores only its survivors while the raw model stays the
    * full corpus — the 100 TB shape (never pay scoring for docs
    * already dropped). `scoreDocs` must be a subset of `corpus` (an
    * unknown bigram would silently drop from the inner dictionary
    * join).
    */
  /** The X58 dictionary artifact: (bg, delta6) — the smoothed
    * target-vs-raw log-ratio per corpus bigram, 1e-6 fixed point.
    * Heaps-law bounded, so a deployment materializes it offline and
    * ships it to the ingest tier ([[graft.streaming.Gateway
    * .admitFeed]] takes it as its static join side).
    */
  private[graft] def dsirDict(corpus: DataFrame): DataFrame = {
    val cR = bigramPairsOf(corpus, col("lang")).groupBy(col("bg")).agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === dsirTargetLang, 1L).otherwise(0L)).as("c_t"))
    // scalar totals (R, T, B) ride a 1-row broadcast onto the
    // B-bounded dictionary — never onto corpus rows
    val tot = cR.agg(
      sum(col("c_r")).as("tr"), sum(col("c_t")).as("tt"),
      count(lit(1)).as("b"))
    cR.crossJoin(broadcast(tot))
      .select(col("bg"),
        (round(lit(1000000.0) * log((col("c_t") + 1).cast("double") / (col("tt") + col("b"))), 0).cast("long")
          - round(lit(1000000.0) * log((col("c_r") + 1).cast("double") / (col("tr") + col("b"))), 0).cast("long"))
          .as("delta6"))
  }

  /** The integer HALF_UP round-4 of a summed delta6 column: the per-doc
    * total is an exact count of 1e-6 units, and `round(total/1e6, 4)`
    * would put engines on opposite sides whenever the total ends in 50
    * (the double nearest x.xxxx5 prints differently per round
    * implementation — a real sf0.1 hit, doc 706). HALF_UP on the exact
    * integer (|s|+50 div 100, sign restored) is portable by
    * construction; the final /1e4 maps identical integers to identical
    * doubles.
    */
  private[graft] def dsirLogratio: Column = {
    val s6 = sum(col("delta6"))
    ((floor((abs(s6) + 50) / 100) * when(s6 < 0, -1).otherwise(1)).cast("long")
      / lit(10000.0)).as("logratio")
  }

  private[graft] def dsirFrom(corpus: DataFrame, scoreDocs: DataFrame): DataFrame =
    bigramPairsOf(scoreDocs)
      .join(dsirDict(corpus), "bg")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        dsirLogratio)

  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    dsirFrom(d, d.select(col("doc_id"), col("text"))).orderBy("doc_id")
  }

  private[graft] val dsirTargetLang = "en"

  /** Hashed-feature space size for X67 — the hashing-trick dimension
    * (Weinberger et al., ICML 2009). 64 buckets is deliberately small
    * so collisions are EXERCISED, not avoided: the serving plan must
    * be correct under collision, which is the hashing trick's whole
    * bargain.
    */
  private[graft] val clfBuckets = 64L

  /** The bucket weight in integer millionths: a deterministic
    * md5-derived stand-in (±0.1) for offline-trained coefficients.
    * What the operator exercises is the SERVING plan of a hashed
    * linear model — the weight VALUES would ship from training; their
    * derivation here is an expression both engines compute
    * identically, plan-equivalent to a 64-row broadcast literal.
    */
  private def clfW6(b: Column): Column =
    Hashing.h32(concat(lit("qw"), b.cast("string"))) % 200001L - 100000L

  /** The X67 classifier computed IN-ROW — `clf_n_feats`,
    * `clf_score6`, `clf_logit6`, `clf_keep` as narrow columns with no
    * explode and no aggregate — for the streaming ingest path, where
    * the per-doc feature explode + re-group would force a second
    * streaming aggregate ([[graft.streaming.Gateway.admitFeed]]
    * carries these through its one windowed aggregate instead).
    * Same arithmetic as [[qualityClf]] feature-for-feature
    * (GatewaySpec pins in-row ≡ declared operator on identical
    * docs). HOF discipline per the [[withGateVerdicts]] lesson:
    * arrays ride in argument position, lambdas reference only their
    * own variables.
    */
  /** Production path: the native [[graft.functions.ClfScore]] loop —
    * one call per row, no feature-array materialization, the outer
    * digest amortized into a per-JVM 64-entry weight table (r17; the
    * HOF form below was the costliest in-row work in the engine —
    * the gate-scored memo build every audit-family query and three
    * streaming feeds pay). CurationSpec pins native ≡ HOF
    * column-for-column on the corpus at two SFs, and the DuckDB
    * oracle replays the HOF form's arithmetic relationally, so all
    * three derivations certify each other.
    */
  private[graft] def withClfColumns(df: DataFrame): DataFrame =
    df
      .withColumn("__clf", call_function("graft_clf_score", col("text")))
      .withColumn("clf_n_feats", col("__clf.n_feats"))
      .withColumn("clf_score6", col("__clf.score6"))
      .withColumn("clf_logit6",
        (when(col("clf_score6") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("abs(clf_score6) div clf_n_feats")).cast("long"))
      .withColumn("clf_keep", (col("clf_score6") >= 0).cast("boolean"))
      .drop("__clf")

  /** The declarative HOF twin, kept as the parity reference the spec
    * compares the native expression against (and the shape the oracle
    * SQL mirrors).
    */
  private[graft] def withClfColumnsHof(df: DataFrame): DataFrame = {
    val w6OfF =
      "CAST(conv(substring(md5(concat('qw', CAST(" +
        s"CAST(conv(substring(md5(f), 1, 8), 16, 10) AS BIGINT) % $clfBuckets" +
        " AS STRING))), 1, 8), 16, 10) AS BIGINT) % 200001 - 100000"
    df
      .withColumn("__clf_w", split(col("text"), " "))
      .withColumn("__clf_feats", expr(
        "CASE WHEN size(__clf_w) >= 2 THEN concat(__clf_w, zip_with(" +
          "slice(__clf_w, 1, size(__clf_w) - 1), slice(__clf_w, 2, size(__clf_w) - 1), " +
          "(a, b) -> concat(a, ' ', b))) ELSE __clf_w END"))
      .withColumn("clf_n_feats", size(col("__clf_feats")).cast("long"))
      .withColumn("clf_score6", expr(
        s"aggregate(__clf_feats, CAST(0 AS BIGINT), (acc, f) -> acc + ($w6OfF))"))
      .withColumn("clf_logit6",
        (when(col("clf_score6") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("abs(clf_score6) div clf_n_feats")).cast("long"))
      .withColumn("clf_keep", (col("clf_score6") >= 0).cast("boolean"))
      .drop("__clf_w", "__clf_feats")
  }

  /** X97 — leakage-free (cluster-keyed) split (`q_split_cluster`):
    * the REMEDIATION for what X62 measures. X31 splits by a hash of
    * the doc id, so a near-dup pair can straddle train/val and turn
    * held-out loss into memorization measurement; the published fix
    * (RefinedWeb/Dolma dedup-before-split) generalizes to: hash the
    * duplicate-CLUSTER's canonical id instead of the doc's own, so
    * every X21 cluster lands wholly in one split and cross-split
    * near-dup leakage is zero BY CONSTRUCTION (CurationSpec replays
    * the X62 audit over this assignment and pins the empty result,
    * next to a non-empty naive-split audit — the remediation is
    * observable, not asserted). `moved` flags the docs whose split
    * differs from X31's naive assignment — the blast radius of the
    * fix, bounded by the dup volume.
    *
    * Scale shape: the labels are the memoized CC output (bounded by
    * dup volume, NOT corpus size); the corpus id stream left-joins
    * them — the X26 shape, AQE-broadcast at runtime stats, no hint —
    * and split membership stays a pure per-row function of the
    * resulting key ([[Packing.splitOf]]): no corpus-sized split
    * table, no extra shuffle.
    */
  private def splitCluster(s: SparkSession, dir: String): DataFrame = {
    val labels = Clustering.clusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    Dedup.corpusIds(s, dir)
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).cast("long").as("skey"))
      .select(col("doc_id"), col("skey"),
        Packing.splitOf(col("skey")).as("split"),
        when(Packing.splitOf(col("skey")) === Packing.splitOf(col("doc_id")), 0L)
          .otherwise(1L).as("moved"))
      .orderBy(col("doc_id"))
  }

  private def splitClusterSql: String =
    s"""${Clustering.clusterChainSql},
       |k AS (
       |  SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS skey
       |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id)
       |SELECT doc_id, CAST(skey AS BIGINT) AS skey,
       |  ${Packing.splitCaseSql("skey")} AS split,
       |  CAST(CASE WHEN ${Packing.splitCaseSql("skey")} = ${Packing.splitCaseSql("doc_id")}
       |       THEN 0 ELSE 1 END AS BIGINT) AS moved
       |FROM k ORDER BY doc_id""".stripMargin

  /** X67 — hashed-feature linear quality classifier
    * (`q_quality_clf`): the fastText-style serving shape every
    * production corpus filter ends up with (CCNet's LM filter,
    * GPT-3's quality classifier, RefinedWeb's line filters): features
    * are word unigrams + bigrams hashed into [[clfBuckets]] buckets,
    * the score is the sum of bucket weights, keep = score ≥ 0.
    *
    * The hashing trick is what makes this a 100 TB operator: there is
    * NO vocabulary dictionary and NO join — bucket and weight are
    * pure narrow expressions on the exploded feature stream
    * (vocabulary-unbounded corpora can't ship a dictionary to every
    * executor; the hash IS the dictionary), and the only shuffle is
    * the one doc-keyed aggregate of integer partials. Integer
    * end-to-end: weights in millionths, the per-feature mean via
    * truncation-toward-zero division with the sign handled
    * explicitly (`abs div` then restore) because Spark's `div`
    * truncates while DuckDB's `//` floors — they agree only on
    * non-negative operands, the X58 HALF_UP lesson applied to
    * integer division.
    */
  private def qualityClf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val feats = d.select(col("doc_id"), explode(concat(
      col("w"),
      when(size(col("w")) >= 2, expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
          .stripMargin))
        .otherwise(array().cast("array<string>")))).as("f"))
    feats
      .select(col("doc_id"), clfW6(Hashing.h32(col("f")) % clfBuckets).as("w6"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_feats"),
        sum(col("w6")).cast("long").as("score6"))
      .select(
        col("doc_id"), col("n_feats"),
        (when(col("score6") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("abs(score6) div n_feats")).cast("long").as("logit6"),
        (col("score6") >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** The X67 classifier as a DuckDB CTE chain over `$from(doc_id,
    * text)`, ending in `cl(doc_id, n_feats, score6, logit6)` — the
    * oracle-side twin of [[withClfColumns]], factored (the
    * [[ruleFailedCteSql]] pattern) so composed oracles (X108) can
    * state the same arithmetic without restating the hashing trick.
    */
  private[graft] def clfCteSql(from: String): String =
    s"""clt AS (SELECT doc_id, string_split(text, ' ') AS w FROM $from),
       |clf AS (
       |  SELECT doc_id, unnest(w) AS f FROM clt
       |  UNION ALL
       |  SELECT doc_id, w[i] || ' ' || w[i+1] AS f
       |  FROM clt, LATERAL unnest(generate_series(1, len(w) - 1)) AS s(i)
       |  WHERE len(w) >= 2),
       |cl0 AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(
       |      ('0x' || substr(md5('qw' || CAST(
       |        ('0x' || substr(md5(f), 1, 8))::BIGINT % $clfBuckets
       |      AS VARCHAR)), 1, 8))::BIGINT % 200001 - 100000) AS BIGINT) AS score6
       |  FROM clf GROUP BY doc_id),
       |cl AS (
       |  SELECT doc_id, n_feats, score6,
       |    CAST(CASE WHEN score6 < 0 THEN -(abs(score6) // n_feats)
       |              ELSE score6 // n_feats END AS BIGINT) AS logit6
       |  FROM cl0)""".stripMargin

  private def qualityClfSql: String =
    s"""WITH ${clfCteSql("documents")}
       |SELECT doc_id, n_feats, logit6, score6 >= 0 AS keep
       |FROM cl ORDER BY doc_id""".stripMargin

  /** X62 — cross-split near-dup leakage: every val/test document that
    * has a VERIFIED near-duplicate (the X5b MinHash pipeline's ≥0.6
    * Jaccard edges) inside the train split. Benchmark decontamination
    * (X15/X50) guards against leaking an EXTERNAL eval set; this
    * guards the pipeline's OWN split — a near-dup straddling the
    * X31 hash split silently turns held-out loss into memorization
    * measurement, which is why published pipelines (RefinedWeb,
    * Dolma) dedup BEFORE splitting and audit after.
    *
    * Scale shape: the X31 split is a pure function of doc_id
    * ([[Packing.splitOf]]), so split membership is a narrow
    * projection ON the verified-pair edge list — no join against a
    * corpus-sized split table, no extra shuffle beyond the one
    * per-eval-doc aggregate of an LSH-bounded edge set. Both
    * (train, eval) orientations of each undirected edge are checked;
    * a val↔test edge is NOT leakage (neither side is trained on) and
    * is dropped, same as train↔train.
    */
  private def splitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakageFrom(Dedup.minhashPairs(s, dir))

  /** The leakage scan over an arbitrary verified-pair edge list —
    * (id_a, id_b) with id_a < id_b, as [[Dedup.minhashPairsOf]]
    * emits — so composed pipelines can audit a derived corpus.
    */
  private[graft] def splitLeakageFrom(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
      col("id_a"), col("id_b"),
      Packing.splitOf(col("id_a")).as("sa"),
      Packing.splitOf(col("id_b")).as("sb"))
    val oriented = e
      .filter(col("sa") === "train" && col("sb") =!= "train")
      .select(col("id_b").as("eval_id"), col("sb").as("eval_split"), col("id_a").as("train_id"))
      .unionByName(
        e.filter(col("sb") === "train" && col("sa") =!= "train")
          .select(col("id_a").as("eval_id"), col("sa").as("eval_split"), col("id_b").as("train_id")))
    oriented
      .groupBy("eval_id", "eval_split")
      .agg(
        count(lit(1)).cast("long").as("n_leaks"),
        min(col("train_id")).cast("long").as("first_train_id"))
      .orderBy("eval_id")
  }

  private def splitLeakageSql: String =
    s"""WITH ${Dedup.minhashCandSql},
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT v.id_a, v.id_b FROM verified v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |sp AS (
       |  SELECT id_a, id_b,
       |    ${Packing.splitCaseSql("id_a")} AS sa,
       |    ${Packing.splitCaseSql("id_b")} AS sb
       |  FROM pairs),
       |o AS (
       |  SELECT id_b AS eval_id, sb AS eval_split, id_a AS train_id
       |  FROM sp WHERE sa = 'train' AND sb <> 'train'
       |  UNION ALL
       |  SELECT id_a AS eval_id, sa AS eval_split, id_b AS train_id
       |  FROM sp WHERE sb = 'train' AND sa <> 'train')
       |SELECT eval_id, eval_split, CAST(count(*) AS BIGINT) AS n_leaks,
       |  CAST(min(train_id) AS BIGINT) AS first_train_id
       |FROM o GROUP BY 1, 2 ORDER BY eval_id""".stripMargin

  /** X72 — corpus snapshot diff (`q_snapshot_diff`): the delta
    * classification an INCREMENTAL crawl pipeline runs between corpus
    * versions before doing anything else — added / removed / changed /
    * unchanged per doc_id, detected by content-hash compare, never by
    * comparing text bytes. Only 'added' and 'changed' docs re-enter
    * the expensive path (X53 deduplicates them against the standing
    * index; X35's gates re-score them); 'unchanged' — the bulk of any
    * recrawl — is skipped entirely, which is the whole economics of
    * incremental processing at 100 TB.
    *
    * Snapshots are derived deterministically from the one shipped
    * corpus (the X3/X15 synthesis discipline, identical on the oracle
    * side): the old snapshot is missing every doc_id ≡ 5 (mod 13)
    * [→ added], carries a stale revision hash for doc_id ≡ 0 (mod 17)
    * [→ changed], and has extra +200000-keyed docs for doc_id ≡ 0
    * (mod 23) that the new snapshot dropped [→ removed].
    *
    * Scale shape: two narrow hash projections (md5 computed in the
    * scan stage — at 100 TB the hash is persisted as a manifest
    * column, making this a manifest-only job that never reads text),
    * ONE id-keyed full-outer join — equi-join on the natural key, AQE
    * handles skewless id space — and a 4-row classification
    * aggregate with map-side partials.
    */
  /** X140 — per-column profile drift (`q_profile_drift`): the
    * data-quality REGRESSION gate between corpus versions — X13
    * profiles one snapshot, X72 diffs row membership; this compares
    * the COLUMN-LEVEL statistics two versions ship and flags the
    * drifts a schema-identical, row-count-plausible regression hides
    * (an extractor that started NULLing a field, a length bug
    * inflating a numeric, a collapsed category). The canonical
    * "pipeline silently broke upstream" detector a nightly run
    * executes before promoting a snapshot.
    *
    * The old version is derived deterministically from the shipped
    * corpus (the X72 synthesis discipline, identical in the oracle):
    * docs ≡ 5 (mod 13) absent (the X72 'added' set), lang NULLed for
    * ≡ 0 (mod 19) (a broken extractor), n_chars inflated by exactly
    * +⌊n/10⌋ for ≡ 0 (mod 7) (an integer length bug).
    *
    * Metrics per version, all exact-integer-derived: row count, lang
    * null-share (4dp), lang/source distinct counts, n_chars mean
    * (4dp), text-length mean (4dp). Means and shares round 4dp
    * HALF_UP in integer space ((20000·sum + cnt) DIV (2·cnt),
    * DECIMAL(38,0)). `drift` = |v2 − v1| on the 4dp grid; `flagged`
    * = the >5% relative rule evaluated on the 4dp INTEGERS
    * (20·|v2i − v1i| > max(v1i, v2i) — no float compare can flip it);
    * both-zero metrics never flag.
    *
    * Scale: TWO narrow single-pass aggregates (one per version — the
    * v1 branch reads the same scan with the synthesis expressions
    * in-row), one 1×1 join, and a ≤|metrics|-row unpivot. Nothing
    * survives the first aggregates.
    */
  private def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val v1 = d.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 19 === 0, lit(null)).otherwise(col("lang")).as("lang"),
        col("source"),
        when(col("doc_id") % 7 === 0, col("n_chars") + expr("n_chars div 10"))
          .otherwise(col("n_chars")).as("n_chars"))
    def wide(df: DataFrame, p: String): DataFrame =
      df.agg(
        count(lit(1)).as(s"${p}_n"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as(s"${p}_lang_nulls"),
        countDistinct(col("lang")).as(s"${p}_lang_d"),
        countDistinct(col("source")).as(s"${p}_src_d"),
        sum(col("n_chars")).as(s"${p}_nc_sum"),
        sum(length(col("text")).cast("long")).as(s"${p}_len_sum"))
    val both = wide(v1, "a").crossJoin(broadcast(wide(d, "b")))
    profileMetrics(f => s"a_$f", f => s"b_$f").map { case (c, m, e1, e2) =>
      both.select(
        lit(c).as("col_name"), lit(m).as("metric"),
        expr(e1).as("v1i"), expr(e2).as("v2i"))
    }.reduce(_ unionByName _)
      .select(col("col_name") +: col("metric") +: profileDriftCols: _*)
      .orderBy("col_name", "metric")
  }

  /** X140's six (col_name, metric, v1i, v2i) rows as SQL over the
    * profile fields `n`, `lang_nulls`, `lang_d`, `src_d`, `nc_sum` and
    * `len_sum` of the two versions, named by `v1(field)` and
    * `v2(field)`: counts and distincts scaled by 10⁴, shares and means
    * HALF_UP to 4dp in DECIMAL(38,0). Shared by [[profileDrift]] and
    * `Gateway.profileDriftFeed`.
    */
  private[graft] def profileMetrics(
      v1: String => String, v2: String => String): Seq[(String, String, String, String)] = {
    def perDoc(field: String)(v: String => String): String =
      Extensions.sq4(s"CAST(${v(field)} AS DECIMAL(38,0))", s"CAST(${v("n")} AS DECIMAL(38,0))")
    def scaled(field: String)(v: String => String): String = s"${v(field)} * 10000"
    Seq(
      ("doc_id", "n_rows", scaled("n") _),
      ("lang", "null_share", perDoc("lang_nulls") _),
      ("lang", "n_distinct", scaled("lang_d") _),
      ("source", "n_distinct", scaled("src_d") _),
      ("n_chars", "mean", perDoc("nc_sum") _),
      ("text", "len_mean", perDoc("len_sum") _))
      .map { case (c, m, e) => (c, m, e(v1), e(v2)) }
  }

  /** X140's v1, v2, drift and flag off the 4dp integers v1i/v2i; the
    * >5% rule compares integers, 20·|v2i − v1i| > max(v1i, v2i).
    */
  private[graft] def profileDriftCols: Seq[Column] = Seq(
    (col("v1i") / lit(10000.0)).as("v1"),
    (col("v2i") / lit(10000.0)).as("v2"),
    (abs(col("v2i") - col("v1i")) / lit(10000.0)).as("drift"),
    when(lit(20L) * abs(col("v2i") - col("v1i"))
      > greatest(col("v1i"), col("v2i")), 1L).otherwise(0L).as("flagged"))

  private def profileDriftSql: String = {
    def q4(num: String, den: String): String =
      s"CAST((20000 * CAST($num AS HUGEINT) + $den) // (2 * CAST($den AS HUGEINT)) AS BIGINT)"
    val rows = Seq(
      ("doc_id", "n_rows", "a_n * 10000", "b_n * 10000"),
      ("lang", "null_share", q4("a_lang_nulls", "a_n"), q4("b_lang_nulls", "b_n")),
      ("lang", "n_distinct", "a_lang_d * 10000", "b_lang_d * 10000"),
      ("source", "n_distinct", "a_src_d * 10000", "b_src_d * 10000"),
      ("n_chars", "mean", q4("a_nc_sum", "a_n"), q4("b_nc_sum", "b_n")),
      ("text", "len_mean", q4("a_len_sum", "a_n"), q4("b_len_sum", "b_n")))
      .map { case (c, m, e1, e2) =>
        s"SELECT '$c' AS col_name, '$m' AS metric, $e1 AS v1i, $e2 AS v2i FROM ab"
      }.mkString("\nUNION ALL\n")
    s"""WITH v1 AS (
       |  SELECT doc_id, text,
       |    CASE WHEN doc_id % 19 = 0 THEN NULL ELSE lang END AS lang,
       |    source,
       |    CASE WHEN doc_id % 7 = 0 THEN n_chars + n_chars // 10
       |         ELSE n_chars END AS n_chars
       |  FROM documents WHERE doc_id % 13 <> 5),
       |wa AS (
       |  SELECT CAST(count(*) AS BIGINT) AS a_n,
       |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS a_lang_nulls,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS a_lang_d,
       |    CAST(count(DISTINCT source) AS BIGINT) AS a_src_d,
       |    CAST(sum(n_chars) AS BIGINT) AS a_nc_sum,
       |    CAST(sum(length(text)) AS BIGINT) AS a_len_sum
       |  FROM v1),
       |wb AS (
       |  SELECT CAST(count(*) AS BIGINT) AS b_n,
       |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b_lang_nulls,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS b_lang_d,
       |    CAST(count(DISTINCT source) AS BIGINT) AS b_src_d,
       |    CAST(sum(n_chars) AS BIGINT) AS b_nc_sum,
       |    CAST(sum(length(text)) AS BIGINT) AS b_len_sum
       |  FROM documents),
       |ab AS MATERIALIZED (SELECT * FROM wa, wb)
       |SELECT col_name, metric, v1i / 10000.0 AS v1, v2i / 10000.0 AS v2,
       |  abs(v2i - v1i) / 10000.0 AS drift,
       |  CAST(CASE WHEN 20 * abs(v2i - v1i) > greatest(v1i, v2i)
       |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
       |FROM ($rows) m
       |ORDER BY col_name, metric""".stripMargin
  }

  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val oldSnap = d.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 0, md5(concat(col("text"), lit(" v1"))))
          .otherwise(md5(col("text"))).as("oh"))
      .unionByName(
        d.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), md5(col("text")).as("oh")))
    val newSnap = d.select(col("doc_id"), md5(col("text")).as("nh"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") =!= col("nh"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        min(col("doc_id")).cast("long").as("min_doc_id"),
        max(col("doc_id")).cast("long").as("max_doc_id"))
      .orderBy("status")
  }

  private def snapshotDiffSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |snap_a AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN md5(text || ' v1') ELSE md5(text) END AS oh
      |  FROM d WHERE doc_id % 13 <> 5
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, md5(text) AS oh FROM d WHERE doc_id % 23 = 0),
      |snap_b AS (SELECT doc_id, md5(text) AS nh FROM d),
      |j AS (
      |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN a.oh IS NULL THEN 'added'
      |         WHEN b.nh IS NULL THEN 'removed'
      |         WHEN a.oh <> b.nh THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM snap_a a FULL JOIN snap_b b ON a.doc_id = b.doc_id)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
      |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** X89 — CDC merge / upsert (`q_upsert`): the MERGE INTO every
    * lakehouse maintenance job runs — a base snapshot plus an ordered
    * change feed (updates that insert on a missing key, deletes)
    * collapsed to the merged live table. X72 DIAGNOSES what changed
    * between two snapshots; X89 APPLIES a change stream, the other
    * half of keeping a 100 TB corpus current without rewriting it
    * from scratch. Semantics are SCD-type-1 / Delta-MERGE: per key,
    * the highest-sequence operation wins (update ⇒ new payload,
    * insert if the key is absent from base; delete ⇒ row absent from
    * the output), everything untouched rides through unchanged.
    *
    * Both inputs derive deterministically from `documents` (the X72
    * pattern): base = docs with doc_id % 13 ≠ 5; the feed carries
    * seq-1 inserts on the % 13 = 5 holdout (the insert path), seq-2
    * updates on doc_id % 7 = 3, seq-3 updates on doc_id % 14 = 3
    * (latest-wins is observable, not vacuous), and seq-4 deletes on
    * doc_id % 11 = 4 (CRT guarantees keys carrying insert-then-update,
    * update-then-delete and insert-then-delete, so every precedence
    * branch fires). Sequence numbers are distinct per stream, so a key
    * hit by several streams always has a unique latest op.
    * Output per live row: payload hash, origin (kept/updated/
    * inserted) and the number of feed ops the key absorbed.
    *
    * Determinism: sequence numbers are distinct per key by
    * construction (one row per key per stream, stream-distinct seqs),
    * so the `max(struct(seq, op, payload))` argmax is total — no
    * float, no tie. The delete filter is
    * null-coalesced: a key with no feed row has a NULL op, and a bare
    * `op =!= "D"` would filter it out (three-valued logic), silently
    * dropping every untouched base row.
    *
    * Scale shape: ONE keyed aggregate over the change feed (the
    * struct-argmax plans as partial-then-final SortAggregate, so the
    * feed collapses map-side before its shuffle) + ONE id-keyed
    * full-outer join. Full outer cannot broadcast in Spark (neither
    * side's unmatched rows survive a broadcast build), so the join is
    * honestly a keyed shuffle join on doc_id — the same cost shape a
    * Delta/Iceberg MERGE pays, linear in base + feed with no skew
    * beyond the id space itself. An UPDATE-only feed against a
    * partition-pruned base would drop to the X72 equi-join shape;
    * the full-outer is what pays for the insert path. Never a window
    * over the base, never a driver collect. (The feed re-derives from
    * `documents` per stream here — a fixture artifact; a real feed is
    * its own small table and the base is scanned once.)
    */
  private def upsert(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = d.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), md5(col("text")).as("bh"))
    val feed = d.filter(col("doc_id") % 13 === 5)
      .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
        md5(concat(col("text"), lit(" i1"))).as("p"))
      .unionByName(d.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
          md5(concat(col("text"), lit(" u1"))).as("p")))
      .unionByName(d.filter(col("doc_id") % 14 === 3)
        .select(col("doc_id"), lit(3L).as("seq"), lit("U").as("op"),
          md5(concat(col("text"), lit(" u2"))).as("p")))
      .unionByName(d.filter(col("doc_id") % 11 === 4)
        .select(col("doc_id"), lit(4L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("p")))
    val latest = feed.groupBy(col("doc_id"))
      .agg(max(struct(col("seq"), col("op"), col("p"))).as("m"),
        count(lit(1)).as("n_ops"))
      .select(col("doc_id"), col("m.op").as("lop"), col("m.p").as("lp"),
        col("n_ops"))
    base.join(latest, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("lop") =!= "D", lit(true)))
      .select(
        col("doc_id"),
        coalesce(col("lp"), col("bh")).as("h"),
        when(col("lop").isNull, "kept")
          .when(col("bh").isNull, "inserted")
          .otherwise("updated").as("origin"),
        coalesce(col("n_ops"), lit(0L)).cast("long").as("n_ops"))
      .orderBy(col("doc_id"))
  }

  private def upsertSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |base AS (SELECT doc_id, md5(text) AS bh FROM d WHERE doc_id % 13 <> 5),
      |feed AS (
      |  SELECT doc_id, 1 AS seq, 'U' AS op, md5(text || ' i1') AS p FROM d WHERE doc_id % 13 = 5
      |  UNION ALL
      |  SELECT doc_id, 2 AS seq, 'U' AS op, md5(text || ' u1') AS p FROM d WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT doc_id, 3 AS seq, 'U' AS op, md5(text || ' u2') AS p FROM d WHERE doc_id % 14 = 3
      |  UNION ALL
      |  SELECT doc_id, 4 AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS p FROM d WHERE doc_id % 11 = 4),
    |latest AS (
      |  SELECT doc_id, op AS lop, p AS lp, n_ops
      |  FROM (SELECT *,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn,
      |          count(*) OVER (PARTITION BY doc_id) AS n_ops
      |        FROM feed) t
      |  WHERE rn = 1),
      |j AS (
      |  SELECT coalesce(b.doc_id, l.doc_id) AS doc_id, b.bh, l.lop, l.lp, l.n_ops
      |  FROM base b FULL JOIN latest l ON b.doc_id = l.doc_id)
      |SELECT doc_id, coalesce(lp, bh) AS h,
      |  CASE WHEN lop IS NULL THEN 'kept'
      |       WHEN bh IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS origin,
      |  CAST(coalesce(n_ops, 0) AS BIGINT) AS n_ops
      |FROM j WHERE lop IS NULL OR lop <> 'D'
      |ORDER BY doc_id""".stripMargin

  /** Bootstrap replicate count for X94. 50 balances a usable CI
    * against the B× replicate fan-out a Poisson bootstrap pays.
    */
  private[graft] val bootstrapB = 50

  /** X94 — Poisson-bootstrap uncertainty (`q_bootstrap`): the error
    * bar on a corpus statistic — every curation dashboard reports
    * "mean tokens per doc = 54.2"; a 100 TB decision ("did the new
    * filter change the corpus?") needs to know whether ±0.4 of drift
    * is signal or sampling noise. The streaming-friendly bootstrap
    * (Chamandy et al., "Estimating uncertainty for massive data
    * streams"): instead of resampling n-out-of-n (a global
    * shuffle-with-replacement — undistributable), each doc enters
    * replicate r with an independent Poisson(1) weight, which matches
    * multinomial resampling to O(1/n) and needs only per-row
    * arithmetic. Declared output: per replicate, the effective count
    * and the weighted mean token count; the replicate SPREAD is the
    * CI (CurationSpec computes it and sanity-checks against
    * σ/√n theory).
    *
    * Determinism: the Poisson draw is an inverse-CDF walk on a salted
    * hash-uniform u ∈ [0, 10⁶) (the X16/X49 discipline — NEVER
    * rand()), with the pmf thresholds fixed as millionth-grid
    * constants (367879/735759/919699/981012/996340/999406, tail
    * capped at 6 — the grid approximation IS the definition, so both
    * engines agree exactly); the mean rounds 4dp in integer space.
    *
    * Scale shape: ONE scan fanned out ×B by an in-row explode, then
    * ONE B-group aggregate whose map-side partials collapse every
    * partition to ≤B rows before the only shuffle. The B× row
    * multiplier is the honest price of the Poisson bootstrap and is
    * CPU-narrow (two hashes and a CASE per replicate row); bag of
    * little bootstraps would trade it for subsample orchestration —
    * documented alternative, not taken at B=50.
    */
  private def bootstrap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
      .select(col("doc_id"), col("tok"),
        explode(sequence(lit(1), lit(bootstrapB))).as("r"))
      .withColumn("u6",
        h32(concat(lit("boot"), col("r").cast("string"), lit("_"),
          col("doc_id").cast("string"))) % 1000000L)
      .withColumn("w",
        when(col("u6") < 367879L, 0L).when(col("u6") < 735759L, 1L)
          .when(col("u6") < 919699L, 2L).when(col("u6") < 981012L, 3L)
          .when(col("u6") < 996340L, 4L).when(col("u6") < 999406L, 5L)
          .otherwise(6L))
    t.groupBy(col("r"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("tok")).as("num"))
      .select(
        col("r").cast("long").as("rep"),
        col("n_eff").cast("long").as("n_eff"),
        when(col("n_eff") > 0, Extensions.share4("num", "n_eff")).as("mean_tok"))
      .orderBy(col("rep"))
  }

  private def bootstrapSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, tok, s.r
       |  FROM d, LATERAL unnest(generate_series(1, $bootstrapB)) AS s(r)),
       |u AS (
       |  SELECT r, tok,
       |    ('0x' || substr(md5('boot' || CAST(r AS VARCHAR) || '_'
       |      || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u6
       |  FROM x),
       |v AS (
       |  SELECT r, tok,
       |    CASE WHEN u6 < 367879 THEN 0 WHEN u6 < 735759 THEN 1
       |         WHEN u6 < 919699 THEN 2 WHEN u6 < 981012 THEN 3
       |         WHEN u6 < 996340 THEN 4 WHEN u6 < 999406 THEN 5
       |         ELSE 6 END AS w
       |  FROM u),
       |a AS (
       |  SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
       |    CAST(sum(w * tok) AS BIGINT) AS num
       |  FROM v GROUP BY r)
       |SELECT CAST(r AS BIGINT) AS rep, n_eff,
       |  CASE WHEN n_eff > 0
       |       THEN CAST((20000 * num + n_eff) // (2 * n_eff) AS BIGINT) / 10000.0
       |       END AS mean_tok
       |FROM a ORDER BY rep""".stripMargin

  /** X73 — Gopher-style quality-rule cascade (`q_rule_filter`): the
    * published heuristic rule SET (Rae et al. 2021, Appendix A1.1;
    * reused by MassiveText/RefinedWeb/Dolma) as one narrow pass with
    * PER-RULE diagnostics — X10/X39 blend signals into a score; a
    * production filter also needs the rule-level breakdown ("23% of
    * src9 fails the stopword rule") to debug a source, so every rule
    * emits its own flag next to the verdict. Thresholds are scaled to
    * this corpus's 10–99-word docs (documented; a deployment retunes
    * them per corpus exactly like Gopher did per MassiveText slice)
    * and chosen so BOTH branches of every rule fire at sf0.01
    * (CurationSpec pins non-vacuity).
    *
    * Rules (all integer-exact — no float exists in this operator):
    *   r_wordcount: 20 ≤ n ≤ 80;
    *   r_meanwordlen: mean word length ∈ [3, 4.5] as cross-multiplied
    *     integers (3n ≤ Σlen ∧ 2Σlen ≤ 9n);
    *   r_stopwords: ≥ 2 DISTINCT stopwords of the 8-word Gopher set;
    *   r_repetition: most frequent token ≤ 20% of words (5·max ≤ n) —
    *     the "fraction of chars in top-1 token" rule restated on the
    *     token axis.
    *
    * Scale shape: ENTIRELY per-row array lambdas inside one codegen'd
    * projection — zero joins, zero aggregates, zero shuffles except
    * the presentation order-by; the 100 TB cost is exactly one scan.
    * The in-row top-token count is O(L·distinct) per doc — the
    * Gopher-rule regime (docs bounded, token map fits in one row);
    * a long-doc corpus would flip that one rule to the X8 explode
    * shape and keep the rest narrow.
    */
  private[graft] val ruleStopwords = Seq("the", "a", "of", "and", "to", "in", "that", "with")

  /** The X73 rule-failure count as a DuckDB CTE over `$from(doc_id,
    * text)` — the oracle-side twin of [[withRuleFlags]], factored so
    * the composed pipeline oracle can state the same arithmetic over
    * its stripped corpus.
    */
  private[graft] def ruleFailedCteSql(from: String): String = {
    val stopList = ruleStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""rf AS (
       |  SELECT doc_id,
       |    CAST(4 - CASE WHEN n >= 20 AND n <= 80 THEN 1 ELSE 0 END
       |           - CASE WHEN 3 * n <= slen AND 2 * slen <= 9 * n THEN 1 ELSE 0 END
       |           - CASE WHEN nstop >= 2 THEN 1 ELSE 0 END
       |           - CASE WHEN 5 * maxc <= n THEN 1 ELSE 0 END AS BIGINT) AS rule_failed
       |  FROM (
       |    SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
       |      CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS slen,
       |      CAST(len(list_intersect(list_distinct(w), $stopList)) AS BIGINT) AS nstop,
       |      CAST(list_max(list_transform(list_distinct(w),
       |        t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS maxc
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $from) rt))""".stripMargin
  }

  /** The X73 rule columns on any (…, text) frame — STATELESS narrow
    * work, so the same projection runs unchanged under the streaming
    * engine ([[graft.streaming.Gateway.deltaFeed]] rides it; the
    * withGateVerdicts precedent).
    */
  private[graft] def withRuleFlags(docs: DataFrame): DataFrame = {
    val stopArr = ruleStopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("slen", expr("aggregate(w, 0L, (acc, x) -> acc + length(x))"))
      .withColumn("nstop",
        expr(s"size(array_intersect(array_distinct(w), $stopArr))").cast("long"))
      .withColumn("maxc",
        expr("array_max(transform(array_distinct(w), t -> size(filter(w, x -> x = t))))")
          .cast("long"))
      .withColumn("n_words", col("n"))
      .withColumn("r_wordcount", col("n") >= 20 && col("n") <= 80)
      .withColumn("r_meanwordlen",
        lit(3) * col("n") <= col("slen") && lit(2) * col("slen") <= lit(9) * col("n"))
      .withColumn("r_stopwords", col("nstop") >= 2)
      .withColumn("r_repetition", lit(5) * col("maxc") <= col("n"))
      .withColumn("n_failed",
        lit(4) - col("r_wordcount").cast("long") - col("r_meanwordlen").cast("long")
          - col("r_stopwords").cast("long") - col("r_repetition").cast("long"))
      .withColumn("keep", col("n_failed") === 0)
      .drop("w", "n", "slen", "nstop", "maxc")
  }

  private def ruleFilter(s: SparkSession, dir: String): DataFrame =
    withRuleFlags(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("r_wordcount"), col("r_meanwordlen"),
        col("r_stopwords"), col("r_repetition"), col("n_failed"), col("keep"))
      .orderBy("doc_id")

  private def ruleFilterSql: String = {
    val stopList = ruleStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS slen,
       |    CAST(len(list_intersect(list_distinct(w), $stopList)) AS BIGINT) AS nstop,
       |    CAST(list_max(list_transform(list_distinct(w),
       |      t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS maxc
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n AS n_words,
       |    (n >= 20 AND n <= 80) AS r_wordcount,
       |    (3 * n <= slen AND 2 * slen <= 9 * n) AS r_meanwordlen,
       |    (nstop >= 2) AS r_stopwords,
       |    (5 * maxc <= n) AS r_repetition
       |  FROM f)
       |SELECT doc_id, n_words, r_wordcount, r_meanwordlen, r_stopwords, r_repetition,
       |  CAST(4 - CAST(r_wordcount AS INT) - CAST(r_meanwordlen AS INT)
       |     - CAST(r_stopwords AS INT) - CAST(r_repetition AS INT) AS BIGINT) AS n_failed,
       |  (r_wordcount AND r_meanwordlen AND r_stopwords AND r_repetition) AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** The four X73 gates, keyed for X168's per-rule unpivot. */
  private[graft] val ablationRules = Seq(
    ("meanwordlen", "r_meanwordlen"),
    ("repetition", "r_repetition"),
    ("stopwords", "r_stopwords"),
    ("wordcount", "r_wordcount"))

  /** X168 — gate ablation (`q_gate_ablation`): the marginal-attribution
    * table a curator reads before loosening one of X73's four rules —
    * per rule, how many docs fail it at all (`n_fail`) and how many
    * fail ONLY it (`n_fail_only`: exactly the docs that would be
    * recovered if that single rule were dropped, because every other
    * gate already passes them). A rule with large n_fail but tiny
    * n_fail_only is redundant with the rest of the battery; a rule
    * whose two numbers match is the sole owner of its rejections —
    * the difference is what "can we relax this?" actually asks.
    * `fail_share` is over the corpus; `recoverable_share` is over the
    * dropped set (the blast radius of removing the rule).
    *
    * Scale: the SAME single narrow scan as X73 (withRuleFlags — no
    * join, no window), collapsed map-side into one row of 2·|rules|+2
    * counters; the 4-row unpivot happens on that 1-row aggregate.
    * Integer-exact throughout.
    */
  private def gateAblation(s: SparkSession, dir: String): DataFrame = {
    val f = withRuleFlags(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))
    val aggCols =
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped") +:
        ablationRules.flatMap { case (nm, c) =>
          Seq(
            sum(when(!col(c), 1L).otherwise(0L)).as(s"nf_$nm"),
            sum(when(!col(c) && col("n_failed") === 1, 1L).otherwise(0L))
              .as(s"no_$nm"))
        }
    f.agg(count(lit(1)).as("n_docs"), aggCols: _*)
      .select(col("n_docs"), col("n_dropped"),
        explode(array(ablationRules.map { case (nm, _) =>
          struct(lit(nm).as("rule"), col(s"nf_$nm").as("nf"), col(s"no_$nm").as("no"))
        }: _*)).as("c"))
      .select(
        col("c.rule").as("rule"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_dropped").cast("long").as("n_dropped"),
        col("c.nf").cast("long").as("n_fail"),
        col("c.no").cast("long").as("n_fail_only"),
        (expr("CAST((20000 * c.nf + n_docs) DIV (2 * n_docs) AS BIGINT)")
          / lit(10000.0)).as("fail_share"),
        Extensions.share4("c.no", "n_dropped").as("recoverable_share"))
      .orderBy("rule")
  }

  private def gateAblationSql: String = {
    val stopList = ruleStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val counters = ablationRules.map { case (nm, c) =>
      s"""sum(CASE WHEN NOT $c THEN 1 ELSE 0 END) AS nf_$nm,
         |    sum(CASE WHEN NOT $c AND n_failed = 1 THEN 1 ELSE 0 END) AS no_$nm"""
        .stripMargin
    }.mkString(",\n    ")
    val selects = ablationRules.map { case (nm, _) =>
      s"""SELECT '$nm' AS rule, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  CAST(nf_$nm AS BIGINT) AS n_fail, CAST(no_$nm AS BIGINT) AS n_fail_only,
         |  CAST((20000 * nf_$nm + n_docs) // (2 * n_docs) AS BIGINT) / 10000.0
         |    AS fail_share,
         |  CASE WHEN n_dropped = 0 THEN 0.0
         |    ELSE CAST((20000 * no_$nm + n_dropped) // (2 * n_dropped) AS BIGINT)
         |      / 10000.0 END AS recoverable_share
         |FROM agg""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS slen,
       |    CAST(len(list_intersect(list_distinct(w), $stopList)) AS BIGINT) AS nstop,
       |    CAST(list_max(list_transform(list_distinct(w),
       |      t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS maxc
       |  FROM t),
       |r AS (
       |  SELECT doc_id,
       |    (n >= 20 AND n <= 80) AS r_wordcount,
       |    (3 * n <= slen AND 2 * slen <= 9 * n) AS r_meanwordlen,
       |    (nstop >= 2) AS r_stopwords,
       |    (5 * maxc <= n) AS r_repetition
       |  FROM f),
       |rf AS (
       |  SELECT *,
       |    4 - CAST(r_wordcount AS INT) - CAST(r_meanwordlen AS INT)
       |      - CAST(r_stopwords AS INT) - CAST(r_repetition AS INT) AS n_failed
       |  FROM r),
       |agg AS (
       |  SELECT count(*) AS n_docs,
       |    sum(CASE WHEN n_failed > 0 THEN 1 ELSE 0 END) AS n_dropped,
       |    $counters
       |  FROM rf)
       |$selects""".stripMargin
  }

  /** X74 — token-budget epoch allocation (`q_token_budget`): the
    * data-constrained planning step (Muennighoff et al., NeurIPS 2023
    * — repeating data is near-free up to ~4 epochs, then decays):
    * given a training token budget B larger than the corpus, allocate
    * tokens per source as full corpus epochs plus a remainder round.
    * Every source repeats together for e = min(B div T, 4) full
    * epochs (T = corpus tokens); the remaining budget fills sources
    * in a salted-hash priority order (deterministic engine-to-engine,
    * the X38 ordering discipline — a real run orders by quality or
    * staleness instead), the last source taking a partial allocation.
    * B is derived as 3T/2 here so the remainder round is non-vacuous:
    * every branch of the allocator (full source, partial source,
    * unfunded source) fires at sf0.01 (CurationSpec pins it).
    *
    * Integer-exact end-to-end: token counts, the budget, the running
    * remainder fill (a prefix-sum window over the ≤|sources|
    * dictionary — the "window over aggregate, never the corpus"
    * rule), and the final epochs ratio rounded 4dp in integer space.
    *
    * Scale shape: one corpus aggregate with map-side partials into a
    * |sources|-row dictionary; everything after runs on that
    * dictionary. At 100 TB the allocator's cost is the token count
    * it would need anyway.
    */
  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window.partitionBy()
      .orderBy(md5(concat(lit("budget"), col("source"))), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("n_tokens"))
      .withColumn("t_all", sum(col("n_tokens")).over(wAll))
      .withColumn("budget", expr("(3 * t_all) div 2"))
      .withColumn("full_epochs", least(expr("budget div t_all"), lit(4L)))
      .withColumn("rem",
        when(col("full_epochs") < 4, col("budget") - col("full_epochs") * col("t_all"))
          .otherwise(lit(0L)))
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(wOrd), lit(0L)))
      .withColumn("extra_tokens",
        greatest(lit(0L), least(col("n_tokens"), col("rem") - col("cum_prev"))))
      .withColumn("total_alloc",
        col("full_epochs") * col("n_tokens") + col("extra_tokens"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("full_epochs").cast("long").as("full_epochs"),
        col("extra_tokens").cast("long").as("extra_tokens"),
        col("total_alloc").cast("long").as("total_alloc"),
        Extensions.share4("total_alloc", "n_tokens").as("epochs"))
      .orderBy("source")
  }

  private def tokenBudgetSql: String =
    """WITH d AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
      |s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
      |t AS (SELECT s.*, sum(n_tokens) OVER () AS t_all FROM s),
      |b AS (
      |  SELECT t.*, (3 * t_all) // 2 AS budget,
      |    least(((3 * t_all) // 2) // t_all, 4) AS full_epochs
      |  FROM t),
      |r AS (
      |  SELECT b.*,
      |    CASE WHEN full_epochs < 4 THEN budget - full_epochs * t_all ELSE 0 END AS rem,
      |    COALESCE(sum(n_tokens) OVER (ORDER BY md5('budget' || source), source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      |  FROM b)
      |SELECT source, n_tokens,
      |  CAST(full_epochs AS BIGINT) AS full_epochs,
      |  CAST(greatest(0, least(n_tokens, rem - cum_prev)) AS BIGINT) AS extra_tokens,
      |  CAST(full_epochs * n_tokens
      |    + greatest(0, least(n_tokens, rem - cum_prev)) AS BIGINT) AS total_alloc,
      |  CAST((20000 * (full_epochs * n_tokens + greatest(0, least(n_tokens, rem - cum_prev)))
      |    + n_tokens) // (2 * n_tokens) AS DOUBLE) / 10000.0 AS epochs
      |FROM r ORDER BY source""".stripMargin

  /** X156 — UniMax language-budget allocation (`q_unimax`): the third
    * published mixing strategy beside X74's equal-epochs remainder
    * fill and X151's temperature sweep — Chung et al. (2023),
    * "UniMax: Fairer and More Effective Language Sampling": spend the
    * token budget as UNIFORMLY across languages as possible, capping
    * each language at `epochsCap` repetitions of its own data and
    * redistributing what the capped languages cannot absorb among the
    * rest. Proportional sampling starves tail languages; temperature
    * helps but still over-repeats the smallest; UniMax is the
    * closed-form fair allocation with an explicit repetition bound.
    *
    * Exact integer waterfilling, no iteration: sort languages by
    * capacity c = n·E ascending (ties by lang); language at rank i is
    * capped iff c_i·(L−i+1) ≤ B−P_{i−1} (the exact-rational "at most
    * the fair share of what remains" test, cross-multiplied — no
    * float), and because capacities are sorted the capped set is the
    * prefix up to the FIRST failure (a later rank can satisfy the
    * inequality spuriously using prefix mass that was never
    * allocated, so K = first-failure − 1, not a count). Uncapped
    * languages split R = B−P_K as base = R div U each, the R mod U
    * remainder going one token each to the largest-capacity uncapped
    * (= highest ascending rank — no second ordering needed). Budget
    * B = 3T/2 (X74's non-vacuity convention) and E = 2, which on this
    * corpus shape caps the tail languages and leaves the
    * head-language allocation uniform at BOTH test SFs — both
    * branches live on real data; the all-capped (B > ΣC →
    * `unallocated` > 0), remainder-spread and capacity-tie branches
    * are fixture-driven through the same [[unimaxOf]].
    *
    * Scale shape: ONE corpus aggregate with map-side partials into a
    * ≤|langs| dictionary; every window below runs on that dictionary
    * (the "window over aggregate, never the corpus" rule). Integer
    * bound (r17 review corrected a 10³ overstatement): the epochs
    * form computes 2·10⁴·allocation, and allocation can approach
    * B = 1.5T, so 3·10⁴·T < 2⁶³ → corpus < ~3·10¹⁴ tokens — one
    * order above a 100 TB text corpus (~2·10¹³ tokens); past it,
    * rescale the unit (count kilotokens) before the allocator.
    */
  private def unimax(s: SparkSession, dir: String): DataFrame =
    unimaxOf(
      Tables(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("tok"))
        .groupBy(col("lang"))
        .agg(sum(col("tok")).as("n_tokens")),
      unimaxEpochCap)

  private[graft] val unimaxEpochCap = 2L

  /** The allocator over an arbitrary (lang, n_tokens) dictionary —
    * factored so spec fixtures drive the all-capped, remainder and
    * tie branches through the production arithmetic.
    */
  private[graft] def unimaxOf(perLang: DataFrame, epochsCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val asc = Window.partitionBy().orderBy(col("capacity"), col("lang"))
    val ranked = perLang
      .withColumn("capacity", col("n_tokens") * lit(epochsCap))
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("budget", expr("(3 * total) div 2"))
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("nl", count(lit(1)).over(wAll))
      .withColumn("pprev", coalesce(
        sum(col("capacity")).over(asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("kk", coalesce(
        min(when(col("capacity") * (col("nl") - col("i") + 1) >
          col("budget") - col("pprev"), col("i"))).over(wAll),
        col("nl") + 1) - 1)
      .withColumn("pk", coalesce(
        sum(when(col("i") <= col("kk"), col("capacity"))).over(wAll), lit(0L)))
      .withColumn("r", col("budget") - col("pk"))
      .withColumn("u", col("nl") - col("kk"))
    unimaxAllocation(ranked, col("lang")).orderBy("lang")
  }

  /** The allocator's tail over ranked dictionary rows (n_tokens,
    * capacity, rank i of nl, capped prefix kk, remainder r over the u
    * uncapped, budget): uniform base, the remainder to the largest
    * capacities, epochs at 4dp — shared by [[unimaxOf]] and
    * `Gateway.unimaxFeed`, output keyed by `keys`.
    */
  private[graft] def unimaxAllocation(ranked: DataFrame, keys: Column*): DataFrame =
    ranked
      .withColumn("base", when(col("u") === 0, lit(0L)).otherwise(expr("r div u")))
      .withColumn("remx", when(col("u") === 0, lit(0L)).otherwise(expr("r % u")))
      .withColumn("allocation",
        when(col("i") <= col("kk"), col("capacity"))
          .otherwise(col("base") +
            when(col("i") >= col("nl") - col("remx") + 1, 1L).otherwise(0L)))
      .select(keys ++ Seq(
        col("n_tokens").cast("long").as("n_tokens"),
        col("capacity").cast("long").as("capacity"),
        col("allocation").cast("long").as("allocation"),
        Extensions.share4("allocation", "n_tokens").as("epochs"),
        when(col("i") <= col("kk"), 1L).otherwise(0L).as("capped"),
        col("budget").cast("long").as("budget"),
        when(col("u") === 0, col("r")).otherwise(lit(0L)).cast("long").as("unallocated")): _*)

  private def unimaxSql: String =
    s"""WITH per AS (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |b AS (
       |  SELECT lang, n_tokens, n_tokens * $unimaxEpochCap AS capacity,
       |    (3 * CAST(sum(n_tokens) OVER () AS BIGINT)) // 2 AS budget,
       |    CAST(row_number() OVER (ORDER BY n_tokens * $unimaxEpochCap, lang) AS BIGINT) AS i,
       |    CAST(count(*) OVER () AS BIGINT) AS nl,
       |    CAST(COALESCE(sum(n_tokens * $unimaxEpochCap) OVER (
       |      ORDER BY n_tokens * $unimaxEpochCap, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev
       |  FROM per),
       |k AS (
       |  SELECT b.*,
       |    COALESCE(min(CASE WHEN capacity * (nl - i + 1) > budget - pprev THEN i END)
       |      OVER (), nl + 1) - 1 AS kk
       |  FROM b),
       |p AS (
       |  SELECT k.*,
       |    CAST(COALESCE(sum(CASE WHEN i <= kk THEN capacity END) OVER (), 0) AS BIGINT) AS pk
       |  FROM k),
       |f AS (SELECT p.*, budget - pk AS r, nl - kk AS u FROM p),
       |g AS (
       |  SELECT f.*,
       |    CASE WHEN u = 0 THEN 0 ELSE r // u END AS base,
       |    CASE WHEN u = 0 THEN 0 ELSE r % u END AS remx
       |  FROM f),
       |h2 AS (
       |  SELECT g.*,
       |    CASE WHEN i <= kk THEN capacity
       |         ELSE base + CASE WHEN i >= nl - remx + 1 THEN 1 ELSE 0 END END AS allocation
       |  FROM g)
       |SELECT lang, n_tokens,
       |  CAST(capacity AS BIGINT) AS capacity,
       |  CAST(allocation AS BIGINT) AS allocation,
       |  CAST((20000 * allocation + n_tokens) // (2 * n_tokens) AS BIGINT) / 10000.0 AS epochs,
       |  CAST(CASE WHEN i <= kk THEN 1 ELSE 0 END AS BIGINT) AS capped,
       |  CAST(budget AS BIGINT) AS budget,
       |  CAST(CASE WHEN u = 0 THEN r ELSE 0 END AS BIGINT) AS unallocated
       |FROM h2 ORDER BY lang""".stripMargin

  /** X114 — quality-annealed phase plan (`q_anneal_plan`): the
    * two-phase mix schedule published pretraining runs converge on
    * (MiniCPM's WSD decay phase, OLMo-2 midtraining, Llama-3
    * annealing): the STABLE phase trains on the standard proportional
    * mix, and the short ANNEAL phase (the final tenth of the budget
    * here) reweights toward high-quality data — the cheapest
    * known lever on final-model quality per token. Quality gate =
    * X73's rule cascade (the same [[withRuleFlags]] pass the
    * admission filter runs); anneal allocations are proportional to
    * each source's RULE-CLEAN tokens, so a source's anneal share vs
    * its stable share — the `upweight` column — is exactly how much
    * the anneal phase turns it up or down (0.44×–1.69× at sf0.01;
    * CurationSpec pins both directions live).
    *
    * Integer-exact: B = X74's 3T/2 convention, anneal = B div 10,
    * stable = B − anneal; per-source allocations are floor-divided
    * proportional shares ((Bp·T_s) div T), leaving a < ǀsourcesǀ
    * global shortfall the spec bounds (a real run tops up by the
    * X74 hash order); upweight = (Tq_s·T)/(Tq·T_s) rounded 4dp in
    * integer space (DECIMAL(38,0) cross-products).
    *
    * Scale shape: ONE corpus pass (the X73 narrow in-row flags +
    * token counts) collapsed map-side to the ≤ǀsourcesǀ dictionary;
    * everything downstream runs on that dictionary with 1-row
    * broadcast totals. The plan is the artifact a run's data loader
    * consumes next to X74's epoch table.
    */
  private def annealPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withRuleFlags(Tables(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), col("n_words").cast("long").as("tok"), col("keep"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("n_tokens"),
        sum(when(col("keep"), col("tok")).otherwise(lit(0L))).as("clean_tokens"))
      .withColumn("t_all", sum(col("n_tokens")).over(wAll))
      .withColumn("tq_all", sum(col("clean_tokens")).over(wAll))
      .withColumn("b", expr("(3 * t_all) div 2"))
      .withColumn("ba", expr("b div 10"))
      .withColumn("bp", expr("b - ba"))
      .withColumn("pre_alloc", expr("(bp * n_tokens) div t_all"))
      .withColumn("anneal_alloc", expr("(ba * clean_tokens) div tq_all"))
      .withColumn("un", dec(col("clean_tokens")) * dec(col("t_all")))
      .withColumn("ud", dec(col("tq_all")) * dec(col("n_tokens")))
      .select(col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("clean_tokens").cast("long").as("clean_tokens"),
        col("pre_alloc").cast("long").as("pre_alloc"),
        col("anneal_alloc").cast("long").as("anneal_alloc"),
        (expr("CAST((20000 * un + ud) DIV (2 * ud) AS BIGINT)") / lit(10000.0))
          .as("upweight"))
      .orderBy("source")
  }

  private def annealPlanSql: String = {
    val stopList = ruleStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
       |f AS (
       |  SELECT source, CAST(len(w) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS slen,
       |    CAST(len(list_intersect(list_distinct(w), $stopList)) AS BIGINT) AS nstop,
       |    CAST(list_max(list_transform(list_distinct(w),
       |      t2 -> len(list_filter(w, x -> x = t2)))) AS BIGINT) AS maxc
       |  FROM t),
       |r AS (
       |  SELECT source, n,
       |    ((n >= 20 AND n <= 80) AND (3 * n <= slen AND 2 * slen <= 9 * n)
       |      AND nstop >= 2 AND 5 * maxc <= n) AS keep
       |  FROM f),
       |d AS (
       |  SELECT source, sum(n) AS n_tokens,
       |    sum(CASE WHEN keep THEN n ELSE 0 END) AS clean_tokens
       |  FROM r GROUP BY 1),
       |tot AS (SELECT sum(n_tokens) AS t_all, sum(clean_tokens) AS tq_all FROM d),
       |bb AS (SELECT t_all, tq_all, (3 * t_all) // 2 AS b,
       |  ((3 * t_all) // 2) // 10 AS ba,
       |  (3 * t_all) // 2 - ((3 * t_all) // 2) // 10 AS bp FROM tot)
       |SELECT d.source, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(d.clean_tokens AS BIGINT) AS clean_tokens,
       |  CAST((bb.bp * d.n_tokens) // bb.t_all AS BIGINT) AS pre_alloc,
       |  CAST((bb.ba * d.clean_tokens) // bb.tq_all AS BIGINT) AS anneal_alloc,
       |  CAST((20000 * CAST(d.clean_tokens AS HUGEINT) * bb.t_all
       |      + CAST(bb.tq_all AS HUGEINT) * d.n_tokens)
       |    // (2 * CAST(bb.tq_all AS HUGEINT) * d.n_tokens) AS BIGINT) / 10000.0
       |    AS upweight
       |FROM d, bb ORDER BY source""".stripMargin
  }

  /** X81 — training-order emission (`q_train_order`): X74's epoch
    * allocation materialized into the artifact a dataloader actually
    * consumes — one row per (document, epoch) with a deterministic
    * global shuffle position and the token count to take. Full
    * epochs 1..e carry every document whole; the remainder round
    * (epoch e+1) funds each source's documents in salted-hash order
    * until X74's per-source `extra_tokens` runs out, the boundary
    * document truncated to exactly the remaining tokens — so
    * Σ tok_take == the training budget B, to the token, and the
    * per-source remainder sums equal `q_token_budget`'s
    * `extra_tokens` column row-for-row (CurationSpec pins both,
    * plus per-epoch position contiguity and repartition stability).
    *
    * Scale shape — two range machines, no corpus window: the
    * within-source funding cutoff is [[Packing.prefixSumByRange]]
    * keyed (source, h, doc_id) with the per-source offset subtracted
    * from a broadcast ≤ǀsourcesǀ dictionary (a source-keyed window
    * over the corpus is the X38 Zipf hazard), and the per-epoch
    * shuffle position is [[Extensions.rankedByRange]] grouped by
    * epoch — epochs are the one partition key guaranteed balanced
    * (every epoch is the corpus), so no task ever sorts a whole
    * epoch. Both machines keep the payload-pruning rule: only range
    * keys enter, everything else joins back by (epoch, doc_id).
    * Output volume is O(corpus × epochs) — that IS the artifact; a
    * real run writes it partitioned by epoch and streams each in
    * `pos` order.
    */
  private def trainOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    // global scalars (1 row — the sanctioned broadcast): corpus
    // tokens, budget B = 3T/2 (X74's non-vacuity choice), full epochs
    val g = dd.agg(sum(col("tok")).as("t_all"))
      .withColumn("budget", expr("(3 * t_all) div 2"))
      .withColumn("fe", least(expr("budget div t_all"), lit(4L)))
      .withColumn("rem",
        when(col("fe") < 4, col("budget") - col("fe") * col("t_all")).otherwise(lit(0L)))
      .select(col("fe"), col("rem"))
    // X74's remainder fill over the |sources| dictionary: how many
    // extra tokens each source gets in the remainder round
    val wOrd = Window.partitionBy()
      .orderBy(md5(concat(lit("budget"), col("source"))), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nTok = dd.groupBy(col("source")).agg(sum(col("tok")).as("n_tokens"))
    val dict = nTok.crossJoin(broadcast(g))
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(wOrd), lit(0L)))
      .withColumn("extra",
        greatest(lit(0L), least(col("n_tokens"), col("rem") - col("cum_prev"))))
      .select(col("source"), col("extra"))
    val full = dd.crossJoin(broadcast(g.select(col("fe"))))
      .select(col("doc_id"), explode(expr("sequence(1, greatest(fe, 1))")).as("epoch"),
        col("tok").as("tok_take"))
    // within-source funding order: global range prefix sum keyed
    // (source, h, doc_id) minus the source's broadcast offset —
    // sources are contiguous under the range order, so the
    // difference IS the within-source exclusive running sum
    val keyed = dd
      .withColumn("h", md5(concat(lit("order"), col("doc_id"))))
      .select(col("source"), col("h"), col("doc_id"), col("tok"))
    val ps = Packing.prefixSumByRange(keyed, Seq("source", "h", "doc_id"), "tok", "gcum")
    val srcOff = nTok
      .withColumn("soff",
        coalesce(sum(col("n_tokens")).over(
          Window.partitionBy().orderBy(col("source"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("soff"))
    val remRows = ps.join(broadcast(srcOff), "source")
      .join(broadcast(dict), "source")
      .crossJoin(broadcast(g.select(col("fe"))))
      .withColumn("cum_prev", col("gcum") - col("soff"))
      .filter(col("cum_prev") < col("extra"))
      .select(col("doc_id"), (col("fe") + 1).as("epoch"),
        least(col("tok"), col("extra") - col("cum_prev")).as("tok_take"))
    val u = full.unionByName(remRows)
    val rk = u
      .withColumn("sh", md5(concat(lit("shuffle"), col("epoch"), lit(":"), col("doc_id"))))
      .select(col("epoch"), col("sh"), col("doc_id"))
    val ranked = Extensions.rankedByRange(rk, "epoch", Seq("sh", "doc_id"), "pos")
    u.join(ranked.select(col("epoch"), col("doc_id"), col("pos")), Seq("epoch", "doc_id"))
      .select(col("epoch").cast("long").as("epoch"), col("pos"),
        col("doc_id"), col("tok_take").cast("long").as("tok_take"))
      .orderBy("epoch", "pos")
  }

  private def trainOrderSql: String =
    """WITH dd AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
      |g AS (
      |  SELECT least(((3 * sum(tok)) // 2) // sum(tok), 4) AS fe,
      |    CASE WHEN least(((3 * sum(tok)) // 2) // sum(tok), 4) < 4
      |         THEN (3 * sum(tok)) // 2
      |              - least(((3 * sum(tok)) // 2) // sum(tok), 4) * sum(tok)
      |         ELSE 0 END AS rem
      |  FROM dd),
      |st AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens FROM dd GROUP BY source),
      |dict AS (
      |  SELECT source,
      |    greatest(0, least(n_tokens, (SELECT rem FROM g) - COALESCE(
      |      sum(n_tokens) OVER (ORDER BY md5('budget' || source), source
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS extra
      |  FROM st),
      |fl AS (
      |  SELECT d.doc_id, e.epoch, d.tok AS tok_take
      |  FROM dd d, (SELECT unnest(generate_series(1,
      |    CAST(greatest((SELECT fe FROM g), 1) AS BIGINT))) AS epoch) e),
      |rc AS (
      |  SELECT doc_id, source, tok,
      |    COALESCE(sum(tok) OVER (PARTITION BY source
      |      ORDER BY md5('order' || doc_id), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      |  FROM dd),
      |rm AS (
      |  SELECT r.doc_id, (SELECT fe FROM g) + 1 AS epoch,
      |    least(r.tok, x.extra - r.cum_prev) AS tok_take
      |  FROM rc r JOIN dict x USING (source)
      |  WHERE r.cum_prev < x.extra),
      |u AS (SELECT * FROM fl UNION ALL SELECT * FROM rm)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |  CAST(row_number() OVER (PARTITION BY epoch
      |    ORDER BY md5('shuffle' || epoch || ':' || doc_id), doc_id) AS BIGINT) AS pos,
      |  doc_id, CAST(tok_take AS BIGINT) AS tok_take
      |FROM u ORDER BY epoch, pos""".stripMargin

  /** X76 — relative quality cut per source (`q_quality_cut`): the
    * CCNet-family filtering rule ("keep the best q% of EACH source",
    * there by perplexity buckets; here by an exact type-token-ratio
    * score) — RELATIVE thresholds instead of X73's absolute rules,
    * because an absolute cut tuned on one source guts another (the
    * reason CCNet buckets per snapshot/language). Keeps the top 30%
    * per source by score, ties broken by doc_id.
    *
    * Integer-exact: the score is TTR in parts-per-million
    * ((distinct·10⁶) div n — an exact integer, no float), the rank is
    * over (−score, doc_id), and the keep rule is the cross-multiplied
    * compare 10·rank ≤ 3·n_source. Engine-portable by construction.
    *
    * Scale shape: ranking goes through [[Extensions.rankedByRange]]
    * — per-(partition, source) counts → prefix offsets → offset +
    * local rank — so no task ever sorts a whole source (a source-keyed
    * window is the X38 Zipf hazard: at 100 TB one crawl source can be
    * half the corpus); the per-source totals join back broadcast-sized.
    */
  private def qualityCut(s: SparkSession, dir: String): DataFrame = {
    // EVERY column entering rankedByRange is a range-partitioning key
    // (source, neg_score, doc_id) — deliberately: a non-key payload
    // column here gets pruned BELOW the range exchange in the offsets
    // branch only, the two branches' exchange subtrees stop being
    // canonically equal, reuse dies, and each branch samples its OWN
    // split points — silently wrong offsets at scale (caught by the
    // ONE-range-exchange plan pin). score_ppm is re-derived from the
    // key after ranking instead of riding through.
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (-expr("(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000) div size(split(text, ' '))"))
          .as("neg_score"))
    val ranked = Extensions.rankedByRange(
      scored, "source", Seq("neg_score", "doc_id"), "src_rank")
    // totals off the PRE-exchange frame, not `ranked`: a second
    // consumer of the ranked subtree would instantiate a second
    // sampled range exchange, while this branch needs only counts,
    // which no split point can move. It costs a column-pruned second
    // scan — the cheap side at 100 TB.
    val totals = scored.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    ranked.join(totals, "source")
      .select(col("doc_id"), col("source"), (-col("neg_score")).as("score_ppm"),
        col("src_rank").cast("long").as("src_rank"),
        when(lit(10) * col("src_rank") <= lit(3) * col("n_src"), 1L).otherwise(0L)
          .cast("long").as("is_kept"))
      .orderBy("doc_id")
  }

  private def qualityCutSql: String =
    """WITH sc AS (
      |  SELECT doc_id, source,
      |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
      |      // len(string_split(text, ' ')) AS score_ppm
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, score_ppm,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS src_rank,
      |    count(*) OVER (PARTITION BY source) AS n_src
      |  FROM sc)
      |SELECT doc_id, source, score_ppm, src_rank,
      |  CAST(CASE WHEN 10 * src_rank <= 3 * n_src THEN 1 ELSE 0 END AS BIGINT) AS is_kept
      |FROM r ORDER BY doc_id""".stripMargin

  /** X100 — semantic decontamination (`q_decontam_semantic`): flag
    * training vectors whose embedding-cosine against ANY held-out
    * eval vector clears a high threshold — the published complement
    * to X15/X50's n-gram decontamination (paraphrased or reformatted
    * benchmark leakage carries no shared 8-gram but lands at cosine
    * ≈ 1; embedding-similarity sweeps are how modern releases audit
    * for it). Eval suite = the first [[evalSuiteSlots]] eval slots
    * (vec_id % 50 = 0, id < 50·slots — a CONSTANT-size suite, r18:
    * the uncapped every-50th slice contradicted the Θ(N·E) contract
    * below and measured 46× at the 100× probe); synthetic
    * contamination = perturbed copies (element 4 ×1.25, ids +200000)
    * of every SECOND suite vector, so flagged-and-clean eval items
    * both exist and the result is never vacuous. Output per
    * contaminated train vector:
    * match count, best eval id, best score — the quarantine list plus
    * the evidence a release audit publishes.
    *
    * Scale shape (100 TB): the eval side is an EVAL SUITE — size
    * fixed by humans — so it broadcasts, and the scoring join is a
    * keyless broadcast nested loop: Θ(N·E) narrow codegen'd work
    * with E a constant, NO corpus shuffle (the X15 argument, minus
    * the equi-key the gram join had; a threshold-cosine join has no
    * exact key — LSH prefilters trade recall and are X6's job).
    * Only flagged rows (≈ the true contamination volume) reach the
    * per-id argmax aggregate.
    *
    * Numerics: cosine is the fixed IEEE sequence both engines share
    * (index-ordered product sums — Spark's sequential HOF aggregate,
    * DuckDB's scan-order sum over unnest), rounded to 4 dp BEFORE
    * the threshold compare and the argmax (the X32 compare-on-rounded
    * rule), eval-id tie-break; the decision is engine-portable.
    */
  /** X100's similarity threshold — config, like the dedup cuts. */
  private[graft] val semThreshold = 0.95

  /** Eval-suite size bound (X100): the suite is the first 64 eval
    * SLOTS (vec_id % 50 = 0 ∧ vec_id < 50·64) — a CONSTANT, because
    * an eval suite is sized by humans, not by the corpus. Before r18
    * the suite was every 50th vector UNCAPPED, so the "Θ(N·E), E a
    * constant" contract in the scaladoc silently degraded to Θ(N²/50)
    * as data grew — the sf10 probe measured the declared query at 46×
    * its 10× cost (linear = 10×). The cap makes the declared query
    * embody its own scale contract; the 100× re-probe confirms the
    * linear shape.
    */
  private[graft] val evalSuiteSlots = 64

  /** The eval-suite embeddings (the first [[evalSuiteSlots]] eval
    * slots) — the bounded offline artifact both the batch sweep and
    * the streaming admission filter
    * ([[graft.streaming.Gateway.decontamFeed]]) join against.
    */
  private[graft] def evalVecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 50L * evalSuiteSlots)
      .select(col("vec_id").as("eval_id"),
        transform(col("embedding"), _.cast("double")).as("ev"))

  /** X100's train side: the complement of the eval suite plus the
    * planted perturbed copies of every second SUITE vector (plants
    * are suite-relative so the contaminated class stays non-vacuous
    * and every plant has its eval source to collide with).
    */
  private[graft] def trainVecs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val inSuite = col("vec_id") % 50 === 0 && col("vec_id") < 50L * evalSuiteSlots
    base.filter(!inSuite)
      .unionByName(
        base.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < 50L * evalSuiteSlots).select(
          (col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 3, x.cast("double") * 1.25).otherwise(x.cast("double")))
            .as("embedding")))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("tv"))
  }

  /** The pre-argmax hit pairs — factored so the streaming twin's
    * parity test compares against EXACTLY the batch scoring chain.
    */
  private[graft] def semanticHits(s: SparkSession, dir: String): DataFrame =
    trainVecs(s, dir).crossJoin(broadcast(evalVecs(s, dir)))
      .select(col("vec_id"), col("eval_id"),
        round(VectorOps.cosine(col("tv"), col("ev")), 4).as("score"))
      .filter(col("score") >= semThreshold)

  private def decontamSemantic(s: SparkSession, dir: String): DataFrame = {
    semanticHits(s, dir)
      .groupBy(col("vec_id"))
      .agg(
        count(lit(1)).cast("long").as("n_matched"),
        max(struct(col("score").as("s"), (-col("eval_id")).as("ne"))).as("best"))
      .select(col("vec_id"), col("n_matched"),
        (-col("best.ne")).cast("long").as("best_eval_id"),
        col("best.s").as("best_score"))
      .orderBy("vec_id")
  }

  private def decontamSemanticSql: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
      |ev AS (SELECT vec_id AS eval_id, embedding FROM base
      |       WHERE vec_id % 50 = 0 AND vec_id < ${50L * evalSuiteSlots}),
      |tr AS (
      |  SELECT vec_id, vec_id AS src, FALSE AS pert FROM base
      |  WHERE NOT (vec_id % 50 = 0 AND vec_id < ${50L * evalSuiteSlots})
      |  UNION ALL
      |  SELECT vec_id + 200000, vec_id, TRUE FROM base
      |  WHERE vec_id % 100 = 0 AND vec_id < ${50L * evalSuiteSlots}),
      |te AS (
      |  SELECT t.vec_id, i,
      |    CASE WHEN t.pert AND i = 4 THEN x * 1.25 ELSE x END AS x
      |  FROM (
      |    SELECT a.vec_id, a.pert,
      |      unnest(generate_series(1, len(b.embedding))) AS i,
      |      unnest(list_transform(b.embedding, v -> CAST(v AS DOUBLE))) AS x
      |    FROM tr a JOIN base b ON b.vec_id = a.src) t),
      |ee AS (
      |  SELECT eval_id, unnest(generate_series(1, len(embedding))) AS i,
      |    unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
      |  FROM ev),
      |scored AS (
      |  SELECT t.vec_id, e.eval_id,
      |    round(sum(t.x * e.x)
      |      / (sqrt(sum(t.x * t.x)) * sqrt(sum(e.x * e.x))), 4) AS score
      |  FROM te t JOIN ee e ON e.i = t.i
      |  GROUP BY t.vec_id, e.eval_id),
      |hits AS (SELECT * FROM scored WHERE score >= 0.95),
      |r AS (
      |  SELECT vec_id, eval_id, score,
      |    count(*) OVER (PARTITION BY vec_id) AS n_matched,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, eval_id) AS rn
      |  FROM hits)
      |SELECT vec_id, CAST(n_matched AS BIGINT) AS n_matched,
      |  CAST(eval_id AS BIGINT) AS best_eval_id, score AS best_score
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Embargo width for X102 (12 h in µs): wide enough that the gap is
    * a real guard band, narrow enough that the embargo bucket is
    * populated at every verification SF (~33 events/day at sf0.001).
    */
  private[graft] val embargoMicros = 43200000000L

  /** X102 — temporal split with embargo (`q_split_time`): the
    * leakage-free split for TIME-DEPENDENT data, complementing
    * X31/X97's content-keyed splits — when the modeling task is
    * forecasting-shaped (events, user behavior, telemetry), a random
    * split leaks the future into training, and adjacent-in-time
    * records leak through autocorrelation even when the cut is
    * clean; the published remedy (standard in financial ML as
    * "purged/embargoed" splits, de Prado 2018) is a time-ordered cut
    * at a target fraction PLUS an embargo band below the boundary
    * that is dropped entirely, so train and test are separated by a
    * guaranteed gap. Cut at the exact 80th-percentile event (rank
    * ⌈0.8n⌉ over (ts, event_id) — an order statistic, not a
    * timestamp guess, so the achieved fraction is exact); embargo =
    * the [[embargoMicros]] band at-or-below the boundary. Output per
    * (split, event_type): count + exact µs time range, with the
    * realized train→test gap riding every row as the verdict —
    * `gap_ok` is true BY CONSTRUCTION (train ≤ boundary − embargo <
    * boundary < test), and materializing it is the point: it is the
    * number an auditor checks without re-deriving the split.
    *
    * Scale shape: the boundary is ONE order statistic — the
    * [[Extensions.rankedByRange]] machine under a constant group (no
    * single-task corpus sort; the oracle states the window form, so
    * every verify run pins range-machine ≡ window), filtered to one
    * row and broadcast. Split assignment is then a pure per-row
    * compare — no shuffle — and the rollup grain is 3×|event types|.
    * The count and rank branches are column-pruned second scans (the
    * quality-cut trade: cheap at 100 TB, keeps the range machine's
    * exchange canonical). All integer µs end to end.
    */
  private def splitTime(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir, "events")
      .select(unix_micros(col("ts")).as("tsu"), col("event_id"), col("event_type"))
    val keys = ev.select(lit(0L).as("g"), col("tsu"), col("event_id"))
    val rk = Extensions.rankedByRange(keys, "g", Seq("tsu", "event_id"), "rk")
    val n = ev.groupBy().agg(count(lit(1)).as("n"))
    val boundary = rk.crossJoin(broadcast(n))
      .filter(col("rk") === expr("(8 * n + 9) div 10"))
      .select(col("tsu").as("b"))
    val tagged = ev.crossJoin(broadcast(boundary))
      .withColumn("split",
        when(col("tsu") > col("b"), lit("test"))
          .when(col("tsu") > col("b") - embargoMicros, lit("embargo"))
          .otherwise(lit("train")))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tagged.groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        min(col("tsu")).as("min_tsu"), max(col("tsu")).as("max_tsu"))
      // gap verdict over the ≤3×|types| aggregate (dictionary window)
      .withColumn("gap_micros",
        (min(when(col("split") === "test", col("min_tsu"))).over(wAll)
          - max(when(col("split") === "train", col("max_tsu"))).over(wAll))
          .cast("long"))
      .withColumn("gap_ok",
        when(col("gap_micros") > embargoMicros, 1L).otherwise(0L).cast("long"))
      .orderBy("split", "event_type")
  }

  private def splitTimeSql: String =
    s"""WITH ev AS (
       |  SELECT epoch_us(ts) AS tsu, event_id, event_type FROM events),
       |n AS (SELECT count(*) AS n FROM ev),
       |r AS (SELECT tsu, row_number() OVER (ORDER BY tsu, event_id) AS rk FROM ev),
       |b AS (SELECT tsu AS b FROM r, n WHERE rk = (8 * n + 9) // 10),
       |tagged AS (
       |  SELECT ev.tsu, ev.event_type,
       |    CASE WHEN ev.tsu > b.b THEN 'test'
       |         WHEN ev.tsu > b.b - $embargoMicros THEN 'embargo'
       |         ELSE 'train' END AS split
       |  FROM ev, b),
       |g AS (
       |  SELECT split, event_type, count(*) AS n_events,
       |    min(tsu) AS min_tsu, max(tsu) AS max_tsu
       |  FROM tagged GROUP BY 1, 2),
       |v AS (
       |  SELECT max(CASE WHEN split = 'train' THEN max_tsu END) AS mt,
       |    min(CASE WHEN split = 'test' THEN min_tsu END) AS nt
       |  FROM g)
       |SELECT split, event_type, CAST(n_events AS BIGINT) AS n_events,
       |  min_tsu, max_tsu,
       |  CAST(v.nt - v.mt AS BIGINT) AS gap_micros,
       |  CAST(CASE WHEN v.nt - v.mt > $embargoMicros THEN 1 ELSE 0 END AS BIGINT) AS gap_ok
       |FROM g, v ORDER BY split, event_type""".stripMargin

  /** X108 — classifier/rule-cascade agreement (`q_clf_agreement`):
    * the QA table for the quality-gate ensemble — a pipeline running
    * BOTH X67's learned classifier and X73's rule cascade needs to
    * know where they agree (redundant filters waste compute) and
    * where they diverge (the disagreement slice is exactly what gets
    * human review / retraining). Stratified by classifier confidence:
    * per logit bin, the keep rates of both gates and their agreement
    * rate — a reliability-diagram-shaped read where a well-behaved
    * classifier agrees with the rules most at extreme logits and
    * least near the boundary (visible in the data: agreement is
    * lowest in the middle bins). Riding every row, the corpus
    * verdict: Cohen's κ between the two keep verdicts — the
    * chance-corrected agreement number (κ = 1 identical, 0 chance,
    * < 0 systematic disagreement) that decides whether one gate is
    * redundant. κ is an EXACT integer rational ((n·(a+d) − pe_num) /
    * (n² − pe_num) with pe_num = (a+b)(a+c)+(c+d)(b+d) from the 2×2
    * confusion counts), rounded 4dp by signed integer HALF_UP in
    * DECIMAL(38,0) (n² at 10¹⁴ docs is 10²⁸); the degenerate pe = 1
    * (a constant gate) defines κ = 0. Binning is on the SHIFTED
    * nonnegative logit ((logit6 + 10⁵) DIV 2·10⁴ → bins 0..10) —
    * negative integer division floors in DuckDB and truncates in
    * Spark, so the shift is what makes the bin edges engine-portable.
    *
    * Scale shape: both gates are narrow in-row column work
    * ([[withClfColumns]]/[[withRuleFlags]]); ONE corpus aggregate to
    * ≤11 bins with map-side partials; the κ verdict is a dictionary
    * window over those bins. One scan, one exchange, no join.
    */
  /** Session-scoped memo of the gate-scored corpus — the one table
    * the whole classifier-audit family reads: (clf_logit6, clf_keep,
    * keep) per document. X108 agreement, X129 AUC, X149 calibration,
    * and X155's two confident-learning passes each re-ran the full
    * clf + rule gate scan (the costliest in-row work in the engine —
    * the bigram-feature HOF fold); now the first consumer in a pass
    * pays it once and the family reads the 3-longs-per-doc cache
    * (a [[SessionMemo]] entry, like [[Dedup.shingleIndex]]).
    */
  private[graft] def gateScored(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, dir, "gate_scored") {
      withRuleFlags(withClfColumns(
        Tables(s, dir, "documents").select(col("doc_id"), col("text"))))
        .select(col("clf_logit6"), col("clf_keep"), col("keep"))
    }

  private def clfAgreement(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val flagged = gateScored(s, dir)
      .select(
        expr("(clf_logit6 + 100000) DIV 20000").cast("long").as("bin"),
        col("clf_keep").cast("long").as("ck"),
        col("keep").cast("long").as("rk"))
    val bins = flagged.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("ck")).as("nck"), sum(col("rk")).as("nrk"),
        sum(when(col("ck") === col("rk"), 1L).otherwise(0L)).as("nag"),
        sum(col("ck") * col("rk")).as("a"),
        sum(col("ck") * (lit(1L) - col("rk"))).as("b"),
        sum((lit(1L) - col("ck")) * col("rk")).as("c"),
        sum((lit(1L) - col("ck")) * (lit(1L) - col("rk"))).as("d"))
    bins
      .withColumn("ta", sum(col("a")).over(wAll))
      .withColumn("tb", sum(col("b")).over(wAll))
      .withColumn("tc", sum(col("c")).over(wAll))
      .withColumn("td", sum(col("d")).over(wAll))
      .withColumn("tn", col("ta") + col("tb") + col("tc") + col("td"))
      .withColumn("pe_num", expr(
        """(CAST(ta AS DECIMAL(38,0)) + tb) * (CAST(ta AS DECIMAL(38,0)) + tc)
          |+ (CAST(tc AS DECIMAL(38,0)) + td) * (CAST(tb AS DECIMAL(38,0)) + td)"""
          .stripMargin))
      .withColumn("knum", expr(
        "CAST(tn AS DECIMAL(38,0)) * (ta + td) - pe_num"))
      .withColumn("kden", expr(
        "CAST(tn AS DECIMAL(38,0)) * tn - pe_num"))
      .select(col("bin").cast("long").as("bin"), col("n").cast("long").as("n"),
        Extensions.share4("nck", "n").as("clf_keep_rate"),
        Extensions.share4("nrk", "n").as("rule_keep_rate"),
        Extensions.share4("nag", "n").as("agree_rate"),
        Extensions.share4("knum", "kden").as("kappa"))
      .orderBy("bin")
  }

  private def clfAgreementSql: String =
    s"""WITH ${clfCteSql("documents")},
       |${ruleFailedCteSql("documents")},
       |fl AS (
       |  SELECT (cl.logit6 + 100000) // 20000 AS bin,
       |    CASE WHEN cl.score6 >= 0 THEN 1 ELSE 0 END AS ck,
       |    CASE WHEN rf.rule_failed = 0 THEN 1 ELSE 0 END AS rk
       |  FROM cl JOIN rf USING (doc_id)),
       |bins AS (
       |  SELECT bin, count(*) AS n, sum(ck) AS nck, sum(rk) AS nrk,
       |    sum(CASE WHEN ck = rk THEN 1 ELSE 0 END) AS nag,
       |    sum(ck * rk) AS a, sum(ck * (1 - rk)) AS b,
       |    sum((1 - ck) * rk) AS c, sum((1 - ck) * (1 - rk)) AS d
       |  FROM fl GROUP BY 1),
       |t AS (
       |  SELECT bin, n, nck, nrk, nag,
       |    sum(a) OVER () AS ta, sum(b) OVER () AS tb,
       |    sum(c) OVER () AS tc, sum(d) OVER () AS td
       |  FROM bins),
       |k AS (
       |  SELECT bin, n, nck, nrk, nag, ta + tb + tc + td AS tn,
       |    (CAST(ta AS HUGEINT) + tb) * (CAST(ta AS HUGEINT) + tc)
       |      + (CAST(tc AS HUGEINT) + td) * (CAST(tb AS HUGEINT) + td) AS pe_num,
       |    ta, td
       |  FROM t)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
       |  CAST((20000 * nck + n) // (2 * n) AS BIGINT) / 10000.0 AS clf_keep_rate,
       |  CAST((20000 * nrk + n) // (2 * n) AS BIGINT) / 10000.0 AS rule_keep_rate,
       |  CAST((20000 * nag + n) // (2 * n) AS BIGINT) / 10000.0 AS agree_rate,
       |  CASE WHEN CAST(tn AS HUGEINT) * tn - pe_num = 0 THEN 0.0
       |       ELSE CAST((abs(CAST(tn AS HUGEINT) * (ta + td) - pe_num) * 20000
       |                  + (CAST(tn AS HUGEINT) * tn - pe_num))
       |             // (2 * (CAST(tn AS HUGEINT) * tn - pe_num)) AS BIGINT)
       |            * (CASE WHEN CAST(tn AS HUGEINT) * (ta + td) - pe_num < 0
       |               THEN -1 ELSE 1 END) / 10000.0 END AS kappa
       |FROM k ORDER BY bin""".stripMargin

  /** X129 core — exact tie-corrected ROC/AUC off a `(s, y)` scored
    * table (integer score, 0/1 label). Factored so CurationSpec can
    * drive the closed-form branches (perfect separation ⇒ 1.0,
    * reversed ⇒ 0.0, all-ties ⇒ 0.5) through the SAME machinery the
    * declared query uses.
    *
    * AUC is the Mann–Whitney statistic with the standard tie
    * correction: collapsing to the score dictionary (np, nn per
    * distinct score), AUC = Σ_s np(s)·(nn_below(s) + nn(s)/2) / (P·N).
    * Everything stays integer by carrying 2× the numerator:
    * num2 = Σ np·(2·nn_below + nn), den2 = 2·P·N, then 4dp HALF_UP in
    * DECIMAL(38,0) ((20000·num2 + den2) DIV (2·den2) — P·N at 10¹⁴
    * docs is 10²⁸, ×4·10⁴ still inside 10³⁸). Degenerate single-class
    * corpora define AUC = 0.5 (no discrimination measurable) — the
    * same convention both engines state in a CASE.
    *
    * The dictionary is localCheckpointed: it has two consumers (the
    * AUC cumulative window and the ROC bin rollup) — the
    * q_dedup_sweep lesson. Both windows run UNPARTITIONED but over
    * the dictionary only: ≤ 200001 rows by construction (logit6 is an
    * integer in [−10⁵, 10⁵]) — a plan constant, the X56 class, never
    * the corpus.
    */
  private[graft] def rocAucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = scored.groupBy(col("s"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
      .localCheckpoint(true)
    val wBelow = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = dict
      .withColumn("nnb", coalesce(sum(col("nn")).over(wBelow), lit(0L)))
      .agg(
        sum(col("np")).as("p"), sum(col("nn")).as("nneg"),
        sum(expr("CAST(np AS DECIMAL(38,0)) * (2 * nnb + nn)")).as("num2"))
    val wTop = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dict
      .groupBy(expr("(s + 100000) DIV 20000").cast("long").as("bin"))
      .agg(sum(col("np")).as("bnp"), sum(col("nn")).as("bnn"),
        sum(col("np") + col("nn")).as("n"))
      .withColumn("tp", sum(col("bnp")).over(wTop))
      .withColumn("fp", sum(col("bnn")).over(wTop))
      .crossJoin(broadcast(tot))
      .select(
        col("bin"), col("n").cast("long").as("n"),
        Extensions.share4("tp", "p").as("tpr"),
        Extensions.share4("fp", "nneg").as("fpr"),
        when(col("p") === 0 || col("nneg") === 0, lit(0.5)).otherwise(
          Extensions.share4("num2", "2 * CAST(p AS DECIMAL(38,0)) * nneg")).as("auc"))
      .orderBy("bin")
  }

  /** X129 — classifier ROC / exact AUC (`q_clf_auc`): the evaluation
    * that decides whether the X67 quality classifier is worth its
    * serving cost — X108 answers "do the gates agree", this answers
    * "how well does the learned score RANK the rule-clean label".
    * Per X108 logit bin: docs, TPR/FPR at the bin's ≥-threshold (the
    * exact ROC curve at 11 operating points); riding every row, the
    * corpus AUC — the exact tie-corrected Mann–Whitney statistic
    * (honestly ≈ 0.5 here: the hash-seeded classifier is untrained
    * noise, and the eval table is exactly what exposes that).
    *
    * Scale: both gates are in-row column work on ONE shared scan (the
    * X108 shape); one exchange collapses the corpus to the ≤ 2·10⁵+1
    * score dictionary; everything after — both windows, the bin
    * rollup, the 1-row broadcast totals — is dictionary-bounded.
    */
  private def clfAuc(s: SparkSession, dir: String): DataFrame =
    rocAucOf(
      gateScored(s, dir)
        .select(col("clf_logit6").as("s"), col("keep").cast("long").as("y")))

  private def clfAucSql: String =
    s"""WITH ${clfCteSql("documents")},
       |${ruleFailedCteSql("documents")},
       |sy AS (
       |  SELECT cl.logit6 AS s,
       |    CASE WHEN rf.rule_failed = 0 THEN 1 ELSE 0 END AS y
       |  FROM cl JOIN rf USING (doc_id)),
       |dict AS MATERIALIZED (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM sy GROUP BY s),
       |tot AS (
       |  SELECT sum(np) AS p, sum(nn) AS nneg,
       |    sum(CAST(np AS HUGEINT) * (2 * nnb + nn)) AS num2
       |  FROM (SELECT np, nn,
       |          COALESCE(sum(nn) OVER (ORDER BY s
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nnb
       |        FROM dict) c),
       |roc AS (
       |  SELECT bin, n,
       |    sum(bnp) OVER (ORDER BY bin DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |    sum(bnn) OVER (ORDER BY bin DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
       |  FROM (SELECT (s + 100000) // 20000 AS bin, sum(np) AS bnp,
       |          sum(nn) AS bnn, sum(np + nn) AS n
       |        FROM dict GROUP BY 1) b)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
       |  CASE WHEN t.p = 0 THEN 0.0
       |       ELSE CAST((20000 * tp + t.p) // (2 * t.p) AS BIGINT) / 10000.0
       |  END AS tpr,
       |  CASE WHEN t.nneg = 0 THEN 0.0
       |       ELSE CAST((20000 * fp + t.nneg) // (2 * t.nneg) AS BIGINT) / 10000.0
       |  END AS fpr,
       |  CASE WHEN t.p = 0 OR t.nneg = 0 THEN 0.5
       |       ELSE CAST((CAST(t.num2 AS HUGEINT) * 20000
       |                  + 2 * CAST(t.p AS HUGEINT) * t.nneg)
       |             // (4 * CAST(t.p AS HUGEINT) * t.nneg) AS BIGINT) / 10000.0
       |  END AS auc
       |FROM roc, tot t ORDER BY bin""".stripMargin

  /** X149's predicted probability p6 = 5·(clf_logit6 + 10⁵) ∈ [0, 10⁶].
    * [[calP6]] through [[calEce]] are shared by [[clfCalibration]] and
    * `Gateway.calibrationFeed`.
    */
  private[graft] def calP6: Column = (col("clf_logit6") + 100000L) * 5L

  /** The 0.1-wide predicted-probability bin of `p6`, 0..9. */
  private[graft] def calBin: Column = expr("least(p6 DIV 100000, 9)").cast("long")

  /** A bin's mean predicted probability Σp6/n at 4dp HALF_UP. */
  private[graft] def calMp4: Column =
    expr(Extensions.sq4("CAST(sp6 AS DECIMAL(38,0))", "1000000 * CAST(n AS DECIMAL(38,0))"))

  /** ECE = Σ n_b·ǀgap4_bǀ / N at 4dp HALF_UP, off the named sum and count columns. */
  private[graft] def calEce(sgap: String, n: String): Column =
    expr(s"CAST((2 * $sgap + $n) DIV (2 * $n) AS BIGINT)") / lit(10000.0)

  /** X149 — classifier calibration audit (`q_clf_calibration`): the
    * reliability table + ECE that decides whether X67's score can be
    * READ AS a probability — X129 answers "does the score rank
    * documents correctly" (threshold-free discrimination), this
    * answers the orthogonal question "does score 0.8 mean 80%": a
    * pipeline that mixes by score (X39's blend, X76's relative cut,
    * X114's annealing phases) silently assumes yes, and an
    * uncalibrated classifier makes every one of those knobs lie.
    * Predicted probability is the EXACT rational min-max squash
    * p6 = 5·(logit6 + 10⁵) ∈ [0, 10⁶] (logit6 is bounded ±10⁵ by
    * construction) — deliberately NOT a sigmoid: X67 was never
    * Platt-fitted, a transcendental would import cross-engine float
    * risk for a monotone rescaling, and the audit's whole point is
    * to measure how far the RAW score is from a probability. Per
    * 0.1-wide predicted-probability bin: docs, mean predicted (4dp,
    * exact off Σp6), observed keep rate vs the X73 rule label (the
    * X129 reference-label convention), and the signed gap; riding
    * every row, ECE = Σ n_b·ǀgapǀ/N (the expected calibration error
    * of Naeini et al. / Guo et al.) and MCE = max ǀgapǀ — the two
    * numbers a score-consuming stage checks before trusting the
    * scale. All integer: p6 is exact, bin means round 4dp HALF_UP in
    * integer space, ECE folds the ROUNDED bin gaps (the published
    * reliability table IS the rounded table).
    *
    * Scale shape: both gates are narrow in-row column work; ONE
    * corpus aggregate to ≤10 bins with map-side partials; ECE/MCE
    * are windows over those bins. One scan, one exchange, no join.
    */
  private def clfCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gateScored(s, dir)
      .select(calP6.as("p6"), col("keep").cast("long").as("y"))
      .groupBy(calBin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("p6")).as("sp6"),
        sum(col("y")).as("sy"))
      .withColumn("mp4", calMp4)
      .withColumn("ob4", expr(Extensions.sq4("sy", "n")))
      .withColumn("gap4", col("mp4") - col("ob4"))
      .withColumn("tn", sum(col("n")).over(wAll))
      .withColumn("sgap", sum(col("n") * abs(col("gap4"))).over(wAll))
      .select(
        col("bin"),
        col("n").cast("long").as("n_docs"),
        (col("mp4") / lit(10000.0)).as("mean_pred"),
        (col("ob4") / lit(10000.0)).as("obs_rate"),
        (col("gap4") / lit(10000.0)).as("gap"),
        calEce("sgap", "tn").as("ece"),
        (max(abs(col("gap4"))).over(wAll) / lit(10000.0)).as("mce"))
      .orderBy("bin")
  }

  private def clfCalibrationSql: String =
    s"""WITH ${clfCteSql("documents")},
       |${ruleFailedCteSql("documents")},
       |py AS (
       |  SELECT 5 * (cl.logit6 + 100000) AS p6,
       |    CASE WHEN rf.rule_failed = 0 THEN 1 ELSE 0 END AS y
       |  FROM cl JOIN rf USING (doc_id)),
       |b AS (
       |  SELECT least(p6 // 100000, 9) AS bin, count(*) AS n,
       |    sum(CAST(p6 AS HUGEINT)) AS sp6, sum(y) AS sy
       |  FROM py GROUP BY 1),
       |g AS (
       |  SELECT bin, n,
       |    CAST((2 * sp6 + 100 * n) // (200 * n) AS BIGINT) AS mp4,
       |    CAST((20000 * CAST(sy AS HUGEINT) + n) // (2 * n) AS BIGINT) AS ob4
       |  FROM b)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n_docs,
       |  mp4 / 10000.0 AS mean_pred, ob4 / 10000.0 AS obs_rate,
       |  (mp4 - ob4) / 10000.0 AS gap,
       |  CAST((2 * sum(CAST(n AS HUGEINT) * abs(mp4 - ob4)) OVER ()
       |        + sum(CAST(n AS HUGEINT)) OVER ())
       |    // (2 * sum(CAST(n AS HUGEINT)) OVER ()) AS BIGINT) / 10000.0 AS ece,
       |  CAST(max(abs(mp4 - ob4)) OVER () AS BIGINT) / 10000.0 AS mce
       |FROM g ORDER BY bin""".stripMargin

  /** X154's green-token count of the token array `w`: tokens whose
    * h32("wm " ∥ token) is even. Shared with `Gateway.watermarkFeed`,
    * like [[wmFlag]].
    */
  private[graft] def wmGreen(w: Column): Column =
    size(filter(w, x => h32(concat(lit("wm "), x)) % 2 === 0)).cast("long")

  /** X154's integer-exact z ≥ 2 verdict for `g` green of `n` tokens:
    * 2g − n ≥ 0 ∧ (2g − n)² ≥ 4n, as 0/1.
    */
  private[graft] def wmFlag(g: Column, n: Column): Column =
    (g * 2 >= n && (g * 2 - n) * (g * 2 - n) >= n * 4).cast("long")

  /** X154's z-score (2g − n)/√n times `scale`, as one fixed IEEE op
    * sequence: scale·(2g − n), then ÷ √n. `scale` 1.0 is exact, so the
    * batch z and the feed's millionths agree.
    */
  private[graft] def wmZ(g: Column, n: Column, scale: Double): Column =
    lit(scale) * (lit(2L) * g - n) / sqrt(n)

  /** X154 — synthetic-text watermark screen (`q_watermark`): the
    * Kirchenbauer et al. (ICML 2023) green-list detector as a corpus
    * gate — LLM generators that watermark bias token choice toward a
    * seeded half of the vocabulary, and a pretraining pipeline that
    * ingests the open web now has to SCREEN for that bias or it
    * trains on (and amplifies) synthetic text. Per document: the
    * green-token count under the seeded vocabulary partition
    * (h32("wm " ∥ token) even — the engine's one shared hash), the
    * one-proportion z-score z = (2g − n)/√n against the null
    * hypothesis "human text is green half the time", and the
    * watermarked verdict at z ≥ 2.
    *
    * The verdict is INTEGER-EXACT despite the √: z ≥ 2 ⟺
    * 2g − n ≥ 0 ∧ (2g − n)² ≥ 4n — no float in the flag, so engines
    * cannot split on a boundary document; the reported z itself is
    * one fixed IEEE op sequence (integer-exact numerator, one √, one
    * ÷) rounded 4dp. On natural text the flag fires at the null's
    * tail rate (≈2.3% one-sided — CurationSpec pins the observed
    * rate inside a generous band plus a z-recount per doc); a
    * watermarked generator at typical bias (γ=0.5, δ≥2) pushes docs
    * to z ≥ 4, far past the screen.
    *
    * Scale: pure in-row HOF arithmetic over one corpus scan — no
    * join, no shuffle except the final order. The screen composes
    * with X35's gates in the admission pipeline.
    */
  private def watermark(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        wmGreen(col("w")).as("n_green"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_green"),
        round(wmZ(col("n_green"), col("n_tokens"), 1.0), 4).as("z"),
        wmFlag(col("n_green"), col("n_tokens")).as("watermarked"))
      .orderBy("doc_id")
  }

  private def watermarkSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(w,
      |      x -> ('0x' || substr(md5('wm ' || x), 1, 8))::BIGINT % 2 = 0)) AS BIGINT) AS n_green
      |  FROM t)
      |SELECT doc_id, n_tokens, n_green,
      |  round((2 * n_green - n_tokens) / sqrt(n_tokens), 4) + 0 AS z,
      |  CAST(CASE WHEN 2 * n_green >= n_tokens
      |         AND (2 * n_green - n_tokens) * (2 * n_green - n_tokens) >= 4 * n_tokens
      |       THEN 1 ELSE 0 END AS BIGINT) AS watermarked
      |FROM g ORDER BY doc_id""".stripMargin

  /** X155 — label-noise estimation for the gate labels
    * (`q_label_noise`): confident learning (Northcutt et al., JAIR
    * 2021) over the engine's own classifier/label pair — X67's score
    * is trained to mimic X73's rule verdict, and every audit in the
    * family (X108 agreement, X129 AUC, X149 calibration) ASSUMES the
    * rule label is truth; this operator estimates where the label
    * itself is wrong. Per-class confidence thresholds are the mean
    * predicted probability of the class's OWN examples (t₁ = mean p
    * over label-1 docs, t₀ = mean (1−p) over label-0); a document is
    * confidently class j when its probability clears tⱼ, the larger
    * margin wins when both clear (ties to class 1, stated), and
    * documents clearing neither are EXCLUDED (pred −1) — the CL
    * off-diagonals C[i][j≠i] are the label-error estimate.
    *
    * Everything is exact: p6 is X149's rational squash, threshold
    * compares cross-multiply (p6·n₁ ≥ s₁), margins compare as
    * DECIMAL(38,0) cross-products ((p6·n₁−s₁)·n₀ vs ((10⁶−p6)·n₀−s₀)·n₁
    * — ≤10²⁴ at 10⁹ docs, inside 38 digits), shares and the riding
    * noise_rate (off-diagonal / confident mass) round 4dp HALF_UP in
    * integer space. The output is the COMPLETE 2×3 grid (given ×
    * {−1,0,1}) — absent cells carry zeros (the X101 rule), because a
    * zero off-diagonal is the audit's green light and must be stated.
    *
    * Scale: two passes by construction (CL is two-pass: the
    * thresholds are global means), both reading the session-memoized
    * [[gateScored]] table so the expensive gate scan itself runs
    * once; the grid assembly is literal×literal. At 100 TB both
    * passes are map-side-partial aggregates over the cached
    * 3-longs-per-doc columns.
    */
  private def labelNoise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def scored = gateScored(s, dir)
      .select(calP6.as("p6"), col("keep").cast("long").as("y"))
    val thr = scored.agg(
      sum(when(col("y") === 1L, col("p6"))).as("s1"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === 0L, lit(1000000L) - col("p6"))).as("s0"),
      sum(when(col("y") === 0L, 1L).otherwise(0L)).as("n0"))
    val assigned = scored.crossJoin(broadcast(thr))
      .withColumn("pred", clPred(col("p6"), col("s1"), col("n1"), col("s0"), col("n0")))
      .groupBy(col("y").as("given_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
    val grid = Seq(0L, 1L).toDF("given_label")
      .crossJoin(Seq(-1L, 0L, 1L).toDF("pred_label"))
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wGiven = Window.partitionBy(col("given_label"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid.join(assigned, Seq("given_label", "pred_label"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_label", sum(col("n")).over(wGiven))
      .withColumn("conf_mass",
        sum(when(col("pred_label") =!= -1L, col("n")).otherwise(0L)).over(wAll))
      .withColumn("noise_mass",
        sum(when(col("pred_label") =!= -1L && col("pred_label") =!= col("given_label"),
          col("n")).otherwise(0L)).over(wAll))
      .select(
        col("given_label"),
        col("pred_label"),
        col("n").cast("long").as("n_docs"),
        Extensions.share4("n", "n_label").as("share"),
        (col("pred_label") =!= -1L && col("pred_label") =!= col("given_label"))
          .cast("long").as("is_noise"),
        Extensions.share4("noise_mass", "conf_mass").as("noise_rate"))
      .orderBy("given_label", "pred_label")
  }

  /** X155's confident-learning class of a doc with probability `p6`
    * (10⁶ scale), given the class thresholds as sums and counts:
    * `s1`/`n1` = Σp6 and count over label-1 docs, `s0`/`n0` =
    * Σ(10⁶ − p6) and count over label-0 docs. The margins m1 = p6·n1 −
    * s1 and m0 = (10⁶ − p6)·n0 − s0 are DECIMAL(38,0); a doc clearing
    * both thresholds takes the larger margin (ties to 1), one clearing
    * neither is −1. Shared by [[labelNoise]] (columns) and
    * `Gateway.labelNoiseFeed` (literals).
    */
  private[graft] def clPred(
      p6: Column, s1: Column, n1: Column, s0: Column, n0: Column): Column = {
    val m1 = p6.cast("decimal(38,0)") * n1 - s1
    val m0 = (lit(1000000L) - p6).cast("decimal(38,0)") * n0 - s0
    val conf1 = n1 > 0L && m1 >= 0L
    val conf0 = n0 > 0L && m0 >= 0L
    when(conf1 && conf0, when(m1 * n0 >= m0 * n1, 1L).otherwise(0L))
      .when(conf1, 1L)
      .when(conf0, 0L)
      .otherwise(-1L)
  }

  private def labelNoiseSql: String =
    s"""WITH ${clfCteSql("documents")},
       |${ruleFailedCteSql("documents")},
       |py AS (
       |  SELECT 5 * (cl.logit6 + 100000) AS p6,
       |    CASE WHEN rf.rule_failed = 0 THEN 1 ELSE 0 END AS y
       |  FROM cl JOIN rf USING (doc_id)),
       |thr AS (
       |  SELECT sum(CASE WHEN y = 1 THEN CAST(p6 AS HUGEINT) ELSE 0 END) AS s1,
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
       |    sum(CASE WHEN y = 0 THEN CAST(1000000 - p6 AS HUGEINT) ELSE 0 END) AS s0,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0
       |  FROM py),
       |a AS (
       |  SELECT y,
       |    CAST(p6 AS HUGEINT) * n1 - s1 AS m1,
       |    CAST(1000000 - p6 AS HUGEINT) * n0 - s0 AS m0,
       |    n1 > 0 AND CAST(p6 AS HUGEINT) * n1 >= s1 AS conf1,
       |    n0 > 0 AND CAST(1000000 - p6 AS HUGEINT) * n0 >= s0 AS conf0,
       |    n1, n0
       |  FROM py, thr),
       |p AS (
       |  SELECT y AS given_label,
       |    CASE WHEN conf1 AND conf0 THEN
       |           CASE WHEN m1 * n0 >= m0 * n1 THEN 1 ELSE 0 END
       |         WHEN conf1 THEN 1 WHEN conf0 THEN 0 ELSE -1 END AS pred_label
       |  FROM a),
       |c AS (
       |  SELECT given_label, pred_label, count(*) AS n
       |  FROM p GROUP BY 1, 2),
       |grid AS (
       |  SELECT g.given_label, pr.pred_label, COALESCE(c.n, 0) AS n
       |  FROM (VALUES (0), (1)) g(given_label)
       |  CROSS JOIN (VALUES (-1), (0), (1)) pr(pred_label)
       |  LEFT JOIN c ON c.given_label = g.given_label
       |    AND c.pred_label = pr.pred_label),
       |w AS (
       |  SELECT given_label, pred_label, n,
       |    sum(n) OVER (PARTITION BY given_label) AS n_label,
       |    sum(CASE WHEN pred_label <> -1 THEN n ELSE 0 END) OVER () AS conf_mass,
       |    sum(CASE WHEN pred_label <> -1 AND pred_label <> given_label
       |         THEN n ELSE 0 END) OVER () AS noise_mass
       |  FROM grid)
       |SELECT CAST(given_label AS BIGINT) AS given_label,
       |  CAST(pred_label AS BIGINT) AS pred_label,
       |  CAST(n AS BIGINT) AS n_docs,
       |  CASE WHEN n_label = 0 THEN 0.0
       |       ELSE CAST((20000 * n + n_label) // (2 * n_label) AS BIGINT) / 10000.0
       |  END AS share,
       |  CAST(CASE WHEN pred_label <> -1 AND pred_label <> given_label
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_noise,
       |  CASE WHEN conf_mass = 0 THEN 0.0
       |       ELSE CAST((20000 * noise_mass + conf_mass) // (2 * conf_mass) AS BIGINT)
       |            / 10000.0
       |  END AS noise_rate
       |FROM w ORDER BY given_label, pred_label""".stripMargin

  /** X132's declared k ladder — the anonymity levels a release policy
    * quotes (pair-risk, small-group, and the two common publication
    * thresholds).
    */
  private[graft] val kanonLadder: Seq[Int] = Seq(2, 5, 10, 25)

  /** X132 core — the k-anonymity report off any frame and
    * quasi-identifier column set. Factored so CurationSpec can drive
    * a hand-built class layout (sizes 1/2/5) through the SAME
    * machinery and pin the STRICT `< k` risk semantics (a class of
    * size exactly k is NOT at risk at level k).
    *
    * Shape: one exchange collapses the corpus to the QI
    * equivalence-class dictionary (bounded by the QI value-combination
    * count — the reason quasi-identifiers are auditable at all); the
    * ladder rides in as a broadcast cross join and a second
    * dictionary-grain aggregate emits one row per k. risk_share =
    * rows_at_risk / n is an exact rational rounded 4dp HALF_UP in
    * integer space.
    */
  private[graft] def kanonOf(
      df: DataFrame, qi: Seq[String], ladder: Seq[Int]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cls = df.groupBy(qi.map(col): _*).agg(count(lit(1)).as("c"))
    cls.crossJoin(broadcast(ladder.map(_.toLong).toDF("k")))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("c")).as("k_anon"),
        sum(when(col("c") < col("k"), 1L).otherwise(0L)).as("n_classes_below"),
        sum(when(col("c") < col("k"), col("c")).otherwise(0L)).as("rows_at_risk"),
        sum(col("c")).as("n"))
      .select(
        col("k").cast("long").as("k"),
        col("n_classes").cast("long").as("n_classes"),
        col("k_anon").cast("long").as("k_anon"),
        col("n_classes_below").cast("long").as("n_classes_below"),
        col("rows_at_risk").cast("long").as("rows_at_risk"),
        Extensions.share4("rows_at_risk", "n").as("risk_share"))
      .orderBy("k")
  }

  /** X135's declared ℓ ladder — the diversity levels a release policy
    * quotes (a class is attackable when every member shares the same
    * sensitive value even if the class is large — the homogeneity
    * attack k-anonymity misses).
    */
  private[graft] val ldivLadder: Seq[Int] = Seq(2, 3, 5, 8)

  /** X135 core — the ℓ-diversity report off a frame, QI column set
    * and sensitive column. Same shape as [[kanonOf]] (one exchange to
    * the QI class dictionary, ladder broadcast, dictionary-grain
    * report) with the class statistic being DISTINCT sensitive values
    * instead of size. Strict `< ℓ` risk semantics, fixture-pinned
    * (a class with exactly ℓ distinct values is safe at level ℓ).
    */
  private[graft] def ldivOf(
      df: DataFrame, qi: Seq[String], sens: String, ladder: Seq[Int]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cls = df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("c"), countDistinct(col(sens)).as("l"))
    cls.crossJoin(broadcast(ladder.map(_.toLong).toDF("lvl")))
      .groupBy(col("lvl"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("l")).as("l_div"),
        sum(when(col("l") < col("lvl"), 1L).otherwise(0L)).as("n_classes_below"),
        sum(when(col("l") < col("lvl"), col("c")).otherwise(0L)).as("rows_at_risk"),
        sum(col("c")).as("n"))
      .select(
        col("lvl").cast("long").as("lvl"),
        col("n_classes").cast("long").as("n_classes"),
        col("l_div").cast("long").as("l_div"),
        col("n_classes_below").cast("long").as("n_classes_below"),
        col("rows_at_risk").cast("long").as("rows_at_risk"),
        Extensions.share4("rows_at_risk", "n").as("risk_share"))
      .orderBy("lvl")
  }

  /** X135 — ℓ-diversity release audit (`q_ldiversity`): the
    * homogeneity-attack gate k-anonymity misses — a QI class can be
    * comfortably large and still leak if every member shares the same
    * sensitive value (Machanavajjhala et al.'s canonical follow-up).
    * QI = customer's (nation, market segment) — X132's classes — and
    * the sensitive attribute is the account-balance band
    * (floor(acctbal/1000): the financial-standing disclosure). Per
    * declared level ℓ: classes with fewer than ℓ distinct bands, the
    * rows they expose, the at-risk share; riding every row, the TRUE
    * corpus ℓ-diversity (the min distinct count — the ℓ the release
    * can claim) and the class count.
    */
  private def ldiversity(s: SparkSession, dir: String): DataFrame =
    ldivOf(
      Tables(s, dir, "customer")
        .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", ldivLadder)

  private def ldiversitySql: String =
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment, count(*) AS c,
       |    count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
       |  FROM customer GROUP BY 1, 2),
       |lv(lvl) AS (VALUES ${ldivLadder.map(k => s"($k)").mkString(", ")})
       |SELECT CAST(lvl AS BIGINT) AS lvl,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(l) AS BIGINT) AS l_div,
       |  CAST(sum(CASE WHEN l < lvl THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
       |  CAST(sum(CASE WHEN l < lvl THEN c ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |  CAST((20000 * sum(CASE WHEN l < lvl THEN c ELSE 0 END) + sum(c))
       |       // (2 * sum(c)) AS BIGINT) / 10000.0 AS risk_share
       |FROM cls, lv GROUP BY lvl ORDER BY lvl""".stripMargin

  /** X137's declared t ladder, in hundredths (t = lvl/100) — the
    * closeness levels a release policy quotes.
    */
  private[graft] val tcloseLadder: Seq[Int] = Seq(10, 20, 35)

  /** X137 core — the t-closeness report off a frame, QI column set
    * and ORDERED sensitive column. The third privacy gate (Li et
    * al.): ℓ-diversity counts distinct values but misses SKEW — a
    * class whose balance bands are all "high" is ℓ-diverse yet
    * discloses plenty; t-closeness bounds the Earth-Mover's Distance
    * between each class's sensitive DISTRIBUTION and the corpus's.
    *
    * For an ordered attribute with m values, EMD = Σᵢǀcum_p(i) −
    * cum_q(i)ǀ / (m−1) — exact rationals end-to-end by
    * cross-multiplying: per class, emd_num = Σᵢǀcum_cᵢ·N − cum_gᵢ·nǀ
    * over the COMPLETE band grid (absent bands carry cumulative mass
    * — the X101 rule; present-bands-only silently understates EMD),
    * den = n·N·(m−1); violation at level t = lvl/100 ⇔ 100·emd_num >
    * lvl·den, pure integer (DECIMAL(38,0): n·N at 10¹⁴ rows is 10²⁸,
    * ×100 in range). The riding t_max is the max class EMD rounded
    * 4dp HALF_UP in integer space.
    *
    * Scale: one exchange collapses the corpus to the (class, band)
    * dictionary; the complete grid, both cumulative windows, the
    * per-class EMD and the ladder report are all dictionary work
    * (classes × bands is a plan constant — the reason QIs are
    * auditable). The grid frame feeds both the per-class EMD and its
    * two marginal dictionaries — localCheckpointed (two-consumers
    * lesson).
    */
  private[graft] def tcloseOf(
      df: DataFrame, qi: Seq[String], sens: String, ladder: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.sparkSession
    import s.implicits._
    val qiKey = concat_ws("|", qi.map(c => col(c).cast("string")): _*)
    val cb = df.select(qiKey.as("cls"), col(sens).cast("long").as("band"))
      .groupBy(col("cls"), col("band")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val classes = cb.groupBy(col("cls")).agg(sum(col("c")).as("n"))
    val wB = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bandsCum = cb.groupBy(col("band")).agg(sum(col("c")).as("g"))
      .withColumn("cum_g", sum(col("g")).over(wB))
      .withColumn("nn", sum(col("g")).over(wAll))
      .withColumn("m", count(lit(1)).over(wAll))
      .select(col("band"), col("cum_g"), col("nn"), col("m"))
    val wCls = Window.partitionBy(col("cls")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emd = classes.crossJoin(broadcast(bandsCum))
      .join(cb, Seq("cls", "band"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum_c", sum(col("c")).over(wCls))
      .withColumn("term", expr(
        "abs(CAST(cum_c AS DECIMAL(38,0)) * nn - CAST(cum_g AS DECIMAL(38,0)) * n)"))
      .groupBy(col("cls"), col("n"), col("nn"), col("m"))
      .agg(sum(col("term")).as("emd_num"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * nn * (m - 1)"))
      .withColumn("emd4", expr(Extensions.sq4("emd_num", "den")))
      .localCheckpoint(true)
    emd.crossJoin(broadcast(ladder.map(_.toLong).toDF("lvl")))
      .withColumn("viol", expr(
        "CASE WHEN m > 1 AND 100 * emd_num > lvl * den THEN 1 ELSE 0 END"))
      .groupBy(col("lvl"))
      .agg(
        count(lit(1)).as("n_classes"),
        max(col("emd4")).as("tmax4"),
        sum(col("viol")).as("n_violating"),
        sum(col("viol") * col("n")).as("rows_at_risk"),
        sum(col("n")).as("ntot"))
      .select(
        col("lvl").cast("long").as("lvl"),
        col("n_classes").cast("long").as("n_classes"),
        (col("tmax4") / lit(10000.0)).as("t_max"),
        col("n_violating").cast("long").as("n_violating"),
        col("rows_at_risk").cast("long").as("rows_at_risk"),
        Extensions.share4("rows_at_risk", "ntot").as("risk_share"))
      .orderBy("lvl")
  }

  /** X137 — t-closeness release audit (`q_tcloseness`): the third
    * privacy gate, closing the family (X132 k-anonymity → X135
    * ℓ-diversity → this): ℓ-diversity counts distinct sensitive
    * values but misses SKEW — a class whose members' balance bands
    * are all in the top range is ℓ-diverse yet discloses financial
    * standing to anyone who can place a person in it. Per declared
    * closeness level t = lvl/100: classes whose band distribution
    * sits farther than t (ordered-attribute EMD) from the corpus's,
    * the rows they expose, the at-risk share; riding every row, the
    * TRUE corpus t (the max class EMD — the t the release can claim)
    * and the class count.
    */
  private def tcloseness(s: SparkSession, dir: String): DataFrame =
    tcloseOf(
      Tables(s, dir, "customer")
        .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", tcloseLadder)

  private def tclosenessSql: String =
    s"""WITH cb AS MATERIALIZED (
       |  SELECT CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS cls,
       |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band, count(*) AS c
       |  FROM customer GROUP BY 1, 2),
       |cl AS (SELECT cls, sum(c) AS n FROM cb GROUP BY 1),
       |bd AS (
       |  SELECT band, sum(g) OVER (ORDER BY band
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
       |    sum(g) OVER () AS nn, count(*) OVER () AS m
       |  FROM (SELECT band, sum(c) AS g FROM cb GROUP BY 1) g0),
       |grid AS (
       |  SELECT cl.cls, cl.n, bd.band, bd.cum_g, bd.nn, bd.m,
       |    COALESCE(cb.c, 0) AS c
       |  FROM cl CROSS JOIN bd
       |  LEFT JOIN cb ON cb.cls = cl.cls AND cb.band = bd.band),
       |emd AS MATERIALIZED (
       |  SELECT cls, n, nn, m, sum(term) AS emd_num,
       |    CAST(max(n) AS HUGEINT) * max(nn) * (max(m) - 1) AS den
       |  FROM (
       |    SELECT cls, n, nn, m,
       |      abs(CAST(sum(c) OVER (PARTITION BY cls ORDER BY band
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) * nn
       |          - CAST(cum_g AS HUGEINT) * n) AS term
       |    FROM grid) t
       |  GROUP BY cls, n, nn, m),
       |e4 AS (
       |  SELECT cls, n, nn, m, emd_num, den,
       |    CASE WHEN m <= 1 THEN 0
       |         ELSE CAST((20000 * emd_num + den) // (2 * den) AS BIGINT)
       |    END AS emd4
       |  FROM emd),
       |lv(lvl) AS (VALUES ${tcloseLadder.map(k => s"($k)").mkString(", ")})
       |SELECT CAST(lvl AS BIGINT) AS lvl,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  max(emd4) / 10000.0 AS t_max,
       |  CAST(sum(CASE WHEN m > 1 AND 100 * emd_num > lvl * den
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       |  CAST(sum(CASE WHEN m > 1 AND 100 * emd_num > lvl * den
       |       THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |  CAST((20000 * sum(CASE WHEN m > 1 AND 100 * emd_num > lvl * den
       |        THEN n ELSE 0 END) + sum(n))
       |       // (2 * sum(n)) AS BIGINT) / 10000.0 AS risk_share
       |FROM e4, lv GROUP BY lvl ORDER BY lvl""".stripMargin

  /** X143's privacy-budget ladder: (tag, ε, 1/ε as an exact literal
    * both engines multiply by). Tags go into the hash so the noise
    * stream is keyed by STRING, never by a float's formatting.
    */
  private[graft] val dpLadder: Seq[(String, Double, Double)] =
    Seq(("e01", 0.1, 10.0), ("e1", 1.0, 1.0), ("e10", 10.0, 0.1))

  /** X143 — differentially-private count release (`q_dp_release`):
    * the privacy family's RELEASE mechanism — X132/X135/X137 audit
    * what a raw release leaks; this emits what a protected release
    * actually publishes: per-source document counts under ε-DP
    * Laplace noise, at each budget on the declared ladder. The table
    * is the CALIBRATION AUDIT a release pipeline runs (true count,
    * noisy count, realized |noise|, per-ε mean |noise| riding —
    * E|Lap(1/ε)| = 1/ε, so the ε = 0.1 column is visibly 100×
    * noisier than ε = 10); a production release drops the true
    * column and ships the rest.
    *
    * Noise is hash-DETERMINISTIC (the X49/X94 discipline — no RNG in
    * a declared query): u6 = h32('dp'‖source‖tag) mod 10⁶ maps to
    * u = (u6 + 0.5 − 5·10⁵)/10⁶ ∈ (−0.5, 0.5) — the +0.5 keeps the
    * inverse CDF's ln argument strictly positive — and the Laplace
    * draw is −(1/ε)·sign(u)·ln(1 − 2ǀuǀ), computed on IDENTICAL
    * doubles in both engines and snapped ONCE to millionths (the X51
    * ln rule); everything after is integer (µ-units → 4dp by signed
    * (ǀmǀ+50) DIV 100).
    *
    * Scale: one corpus collapse to the ǀsourcesǀ dictionary, a 3-row
    * broadcast ladder cross join, in-row noise, one ε-partitioned
    * window over the dictionary. Nothing corpus-sized past the first
    * aggregate.
    */
  private def dpRelease(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val src = Tables(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_true"))
    val ladder = dpLadder.map { case (tag, e, inv) => (tag, e, inv) }
      .toDF("tag", "eps", "inv_eps")
    val u = (Hashing.h32(concat(lit("dp"), col("source"), col("tag"))) % 1000000L
      + lit(0.5) - lit(500000.0)) / lit(1000000.0)
    val lap = -col("inv_eps") *
      when(u < 0, lit(-1.0)).otherwise(lit(1.0)) *
      log(lit(1.0) - lit(2.0) * abs(u))
    val byEps = Window.partitionBy(col("eps"))
    src.crossJoin(broadcast(ladder))
      .withColumn("noise6", round(lap * lit(1000000.0), 0).cast("long"))
      .withColumn("m", col("n_true") * lit(1000000L) + col("noise6"))
      .withColumn("an4", expr("(abs(noise6) + 50) DIV 100"))
      .withColumn("san4", sum(col("an4")).over(byEps))
      .withColumn("n_eps", count(lit(1)).over(byEps))
      .withColumn("man4", expr(Extensions.sq4("san4", "10000 * n_eps")))
      .select(
        col("source"), col("eps"),
        col("n_true").cast("long").as("n_true"),
        (expr("(CASE WHEN m < 0 THEN -1 ELSE 1 END) * ((abs(m) + 50) DIV 100)")
          / lit(10000.0)).as("noisy_n"),
        (col("an4") / lit(10000.0)).as("abs_noise"),
        (col("man4") / lit(10000.0)).as("mean_abs_noise"))
      .orderBy("source", "eps")
  }

  private def dpReleaseSql: String = {
    val ladder = dpLadder.map { case (tag, e, inv) => s"('$tag', $e, $inv)" }
      .mkString(", ")
    s"""WITH src AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_true
       |  FROM documents GROUP BY 1),
       |lv(tag, eps, inv_eps) AS (VALUES $ladder),
       |nz AS (
       |  SELECT source, CAST(eps AS DOUBLE) AS eps, n_true,
       |    CAST(round(1000000.0 * (
       |      -CAST(inv_eps AS DOUBLE)
       |      * (CASE WHEN (('0x' || substr(md5('dp' || source || tag), 1, 8))::BIGINT
       |               % 1000000 + 0.5 - 500000.0) / 1000000.0 < 0
       |         THEN -1.0 ELSE 1.0 END)
       |      * ln(1.0 - 2.0 * abs((('0x' || substr(md5('dp' || source || tag), 1, 8))::BIGINT
       |               % 1000000 + 0.5 - 500000.0) / 1000000.0))
       |    )) AS BIGINT) AS noise6
       |  FROM src, lv)
       |SELECT source, eps, n_true,
       |  (CASE WHEN n_true * 1000000 + noise6 < 0 THEN -1 ELSE 1 END)
       |    * ((abs(n_true * 1000000 + noise6) + 50) // 100) / 10000.0 AS noisy_n,
       |  ((abs(noise6) + 50) // 100) / 10000.0 AS abs_noise,
       |  CAST((20000 * sum((abs(noise6) + 50) // 100) OVER (PARTITION BY eps)
       |        + 10000 * count(*) OVER (PARTITION BY eps))
       |    // (2 * 10000 * count(*) OVER (PARTITION BY eps)) AS BIGINT) / 10000.0
       |    AS mean_abs_noise
       |FROM nz ORDER BY source, eps""".stripMargin
  }

  /** X132 — k-anonymity release audit (`q_kanon`): the privacy gate a
    * data release runs next to X19's PII redaction — redaction strips
    * direct identifiers; k-anonymity measures whether the QUASI
    * identifiers that remain (here customer's (nation, market
    * segment)) still single people out by combination. Per declared
    * anonymity level k: equivalence classes smaller than k, the rows
    * they expose, and the at-risk share; riding every row, the
    * corpus's actual k-anonymity (the smallest class — the k the
    * release can truthfully claim) and the class count.
    */
  private def kanon(s: SparkSession, dir: String): DataFrame =
    kanonOf(Tables(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      kanonLadder)

  private def kanonSql: String =
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment, count(*) AS c
       |  FROM customer GROUP BY 1, 2),
       |l(k) AS (VALUES ${kanonLadder.map(k => s"($k)").mkString(", ")})
       |SELECT CAST(k AS BIGINT) AS k,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(c) AS BIGINT) AS k_anon,
       |  CAST(sum(CASE WHEN c < k THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
       |  CAST(sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |  CAST((20000 * sum(CASE WHEN c < k THEN c ELSE 0 END) + sum(c))
       |       // (2 * sum(c)) AS BIGINT) / 10000.0 AS risk_share
       |FROM cls, l GROUP BY k ORDER BY k""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_decontam_sweep" -> QueryDef(
      decontamSweep,
      Some(decontamSweepSql),
      "X167 decontamination gram-size sensitivity: flagged docs and evidence volume per candidate n"),
    "q_gate_ablation" -> QueryDef(
      gateAblation,
      Some(gateAblationSql),
      "X168 gate ablation: per rule, docs failing it at all vs failing ONLY it — the marginal attribution table"),
    "q_sample_plan" -> QueryDef(
      samplePlan,
      Some(samplePlanSql),
      "X169 per-source sample-size planning: n for +/-5%/1% relative error on mean length from the source's own cv^2"),
    "q_bloom_plan" -> QueryDef(
      bloomPlan,
      Some(bloomPlanSql),
      "X172 Bloom-filter sizing plan: exact item counts -> bits/words/hashes per FP target, vs the shipped 16384-bit filter"),
    "q_decontaminate" -> QueryDef(
      decontaminate,
      Some(s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
              |train AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
              |  UNION ALL
              |  SELECT doc_id + 300000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
              |  FROM bench),
              |tg AS (
              |  SELECT DISTINCT doc_id, $gramSqlExpr AS gram
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
              |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
              |  WHERE len(w) >= $gramN),
              |bg AS (
              |  SELECT DISTINCT $gramSqlExpr AS gram
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) t,
              |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
              |  WHERE len(w) >= $gramN)
              |SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              |FROM tg JOIN bg ON bg.gram = tg.gram
              |GROUP BY tg.doc_id ORDER BY doc_id""".stripMargin),
      "X15 benchmark decontamination: training docs sharing an 8-gram with the eval set"),
    "q_sample_stratified" -> QueryDef(
      sampleStratified,
      Some("""SELECT doc_id, lang,
             |  CAST(('0x' || substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS BIGINT) AS u
             |FROM documents
             |WHERE ('0x' || substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
             |      < CASE WHEN lang = 'en' THEN 20 ELSE 5 END
             |ORDER BY doc_id""".stripMargin),
      "X16 deterministic stratified sampling by salted hash, per-language rates"),
    "q_pii_redact" -> QueryDef(
      piiRedact,
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 20 = 0
              |         THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example'
              |         ELSE text END AS text
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
              |  md5(regexp_replace(text, '$emailRe', '<EMAIL>', 'g')) AS redacted_md5
              |FROM d ORDER BY doc_id""".stripMargin),
      "X19 PII redaction: count + mask emails, hash-certified byte-identical masking"),
    "q_curate_verdict" -> QueryDef(
      curateVerdict,
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split(text, ' ') AS w,
              |    CASE WHEN len(string_split(text, ' ')) >= 2
              |         THEN list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
              |              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
              |         ELSE [] END AS bgs
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(CASE WHEN 10 * len(list_filter(w, x -> x IN ($stopListSql)))
              |       >= len(w) THEN 1 ELSE 0 END AS BIGINT) AS is_en,
              |  CAST(CASE WHEN len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)
              |       THEN 1 ELSE 0 END AS BIGINT) AS is_quality,
              |  CAST(CASE WHEN 5 * COALESCE(list_max(list_transform(list_distinct(bgs),
              |       b -> len(list_filter(bgs, x -> x = b)))), 0) > len(bgs)
              |       THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive,
              |  CAST(CASE WHEN 10 * len(list_filter(w, x -> x IN ($stopListSql))) >= len(w)
              |        AND len(w) >= 20 AND 10 * len(list_distinct(w)) >= 3 * len(w)
              |        AND NOT (5 * COALESCE(list_max(list_transform(list_distinct(bgs),
              |            b -> len(list_filter(bgs, x -> x = b)))), 0) > len(bgs))
              |       THEN 1 ELSE 0 END AS BIGINT) AS is_kept
              |FROM t ORDER BY doc_id""".stripMargin),
      "X35 composed curation verdict: three narrow gates + keep decision in one scan"),
    "q_mix_weights" -> QueryDef(
      mixWeights,
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             |          FROM documents GROUP BY lang)
             |SELECT lang, n_docs,
             |  round(sqrt(n_docs) / sum(sqrt(n_docs)) OVER (
             |    ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4) + 0 AS weight
             |FROM c ORDER BY lang""".stripMargin),
      "X25 corpus mixing weights: sqrt temperature resampling over language shares"),
    "q_source_cap" -> QueryDef(
      sourceCap,
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, md5('cap' || CAST(doc_id AS VARCHAR)) AS h
              |  FROM documents)
              |SELECT doc_id, source,
              |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS src_rank,
              |  CAST(CASE WHEN row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
              |       <= $sourceCapM THEN 1 ELSE 0 END AS BIGINT) AS is_kept
              |FROM d ORDER BY doc_id""".stripMargin),
      "X38 per-source contribution caps: keep at most M docs per source, salted order"),
    "q_quality_blend" -> QueryDef(
      qualityBlend,
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |f AS (SELECT doc_id,
             |    CAST(len(w) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(w)) AS DOUBLE) * 100 / len(w) AS ttr,
             |    CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS atl
             |  FROM t),
             |r AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY n_tokens, doc_id) AS r_len,
             |    row_number() OVER (ORDER BY ttr, doc_id) AS r_ttr,
             |    row_number() OVER (ORDER BY atl, doc_id) AS r_atl,
             |    count(*) OVER () AS n
             |  FROM f)
             |SELECT doc_id, CAST(r_len AS BIGINT) AS r_len, CAST(r_ttr AS BIGINT) AS r_ttr,
             |  CAST(r_atl AS BIGINT) AS r_atl,
             |  CASE WHEN n > 1
             |    THEN round(CAST(r_len + r_ttr + r_atl - 3 AS DOUBLE) / (3 * (n - 1)), 4)
             |  END AS blend
             |FROM r ORDER BY doc_id""".stripMargin),
      "X39 calibrated quality blend: mean percentile rank of three quality signals"),
    "q_mix_sample" -> QueryDef(
      mixSample,
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
             |          FROM documents GROUP BY lang),
             |r AS (SELECT lang, n_l, min(n_l) OVER () AS n_min FROM c),
             |t AS (SELECT lang,
             |        CAST(floor(1000000.0 * sqrt(CAST(n_min AS DOUBLE) / n_l)) AS BIGINT) AS thr
             |      FROM r),
             |d AS (SELECT doc_id, lang,
             |        ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u
             |      FROM documents)
             |SELECT d.doc_id, d.lang, d.u
             |FROM d JOIN t USING (lang) WHERE d.u < t.thr
             |ORDER BY doc_id""".stripMargin),
      "X45 mixture materialization: per-language hash accept/reject at sqrt-temperature rates"),
    "q_mix_convergence" -> QueryDef(
      mixConvergence,
      Some(mixConvergenceSql),
      "X120 mixture-convergence audit: achieved keep rate vs threshold with the integer 3σ verdict"),
    "q_novelty" -> QueryDef(
      novelty,
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |g AS (
              |  SELECT DISTINCT doc_id, $gramSqlExpr AS gram
              |  FROM t, LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
              |  WHERE len(w) >= $gramN),
              |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
              |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
              |nv AS (SELECT first_doc, CAST(count(*) AS BIGINT) AS n_novel FROM f GROUP BY first_doc)
              |SELECT pd.doc_id, pd.n_grams,
              |  COALESCE(nv.n_novel, 0) AS n_novel,
              |  round(CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / pd.n_grams, 4) + 0 AS novelty
              |FROM pd LEFT JOIN nv ON nv.first_doc = pd.doc_id
              |ORDER BY doc_id""".stripMargin),
      "X47 first-occurrence novelty: share of a doc's distinct 8-grams first seen in it"),
    "q_weighted_sample" -> QueryDef(
      weightedSample,
      Some(s"""WITH d AS (
              |  SELECT doc_id, source,
              |    -ln((('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
              |        / 4294967296.0) / n_chars AS mkey
              |  FROM documents),
              |r AS (SELECT doc_id, source,
              |        row_number() OVER (PARTITION BY source ORDER BY mkey, doc_id) AS smp_rank
              |      FROM d)
              |SELECT doc_id, source, CAST(smp_rank AS BIGINT) AS smp_rank
              |FROM r WHERE smp_rank <= $esSampleM ORDER BY doc_id""".stripMargin),
      "X49 Efraimidis-Spirakis weighted sampling: M docs per source, odds by size"),
    "q_decontam_bloom" -> QueryDef(
      decontamBloom,
      Some(s"""WITH d AS (SELECT doc_id, text FROM documents),
              |bench AS (SELECT doc_id, text FROM d WHERE doc_id % 50 = 0),
              |train AS (
              |  SELECT doc_id, text FROM d WHERE doc_id % 50 <> 0
              |  UNION ALL
              |  SELECT doc_id + 300000 AS doc_id,
              |         regexp_replace(text, '^[^ ]+ ', '') AS text FROM bench),
              |bg AS (
              |  SELECT DISTINCT $gramSqlExpr AS gram
              |  FROM (SELECT string_split(text, ' ') AS w FROM bench) t,
              |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
              |  WHERE len(w) >= $gramN),
              |bp AS (SELECT DISTINCT unnest([${(0 until bloomK).map(bloomPosSql).mkString(", ")}]) AS p
              |       FROM bg),
              |tg AS (
              |  SELECT DISTINCT doc_id, $gramSqlExpr AS gram
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
              |       LATERAL unnest(generate_series(1, len(w) - ${gramN - 1})) AS s(i)
              |  WHERE len(w) >= $gramN)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
              |FROM tg
              |WHERE ${(0 until bloomK).map(i => s"${bloomPosSql(i)} IN (SELECT p FROM bp)")
                .mkString("\n  AND ")}
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "X50 Bloom-filter decontamination: 2 KiB filter broadcast, superset of exact"),
    "q_dsir_weights" -> QueryDef(
      dsirWeights,
      Some(s"""WITH p AS (
              |  SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
              |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) t,
              |       LATERAL unnest(generate_series(1, len(w) - 1)) AS s(i)
              |  WHERE len(w) >= 2),
              |cr AS (
              |  SELECT bg, count(*) AS c_r,
              |    sum(CASE WHEN lang = '$dsirTargetLang' THEN 1 ELSE 0 END) AS c_t
              |  FROM p GROUP BY bg),
              |tot AS (SELECT sum(c_r) AS tr, sum(c_t) AS tt, count(*) AS b FROM cr),
              |dict AS (
              |  SELECT bg,
              |    CAST(round(1000000.0 * ln(CAST(c_t + 1 AS DOUBLE) / (tt + b)), 0) AS BIGINT)
              |    - CAST(round(1000000.0 * ln(CAST(c_r + 1 AS DOUBLE) / (tr + b)), 0) AS BIGINT)
              |      AS delta6
              |  FROM cr, tot)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |  CAST(floor((abs(sum(delta6)) + 50) / 100)
              |       * (CASE WHEN sum(delta6) < 0 THEN -1 ELSE 1 END) AS BIGINT)
              |    / 10000.0 AS logratio
              |FROM p JOIN dict USING (bg)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "X58 DSIR importance weights: per-doc target-vs-raw bigram log-likelihood ratio"),
    "q_split_leakage" -> QueryDef(
      splitLeakage,
      Some(splitLeakageSql),
      "X62 cross-split leakage: val/test docs with a verified near-dup in train"),
    "q_split_cluster" -> QueryDef(
      splitCluster,
      Some(splitClusterSql),
      "X97 leakage-free split: X31's hash split keyed by the X21 cluster canonical id"),
    "q_quality_clf" -> QueryDef(
      qualityClf,
      Some(qualityClfSql),
      "X67 hashed-feature linear quality classifier: hashing-trick serving, no dictionary join"),
    "q_snapshot_diff" -> QueryDef(
      snapshotDiff,
      Some(snapshotDiffSql),
      "X72 corpus snapshot diff: hash-compare full-outer delta (added/removed/changed)"),
    "q_bootstrap" -> QueryDef(
      bootstrap,
      Some(bootstrapSql),
      "X94 Poisson-bootstrap uncertainty: per-replicate weighted corpus means, hash-deterministic"),
    "q_upsert" -> QueryDef(
      upsert,
      Some(upsertSql),
      "X89 CDC merge / upsert: latest-op-wins change feed applied to a base snapshot"),
    "q_rule_filter" -> QueryDef(
      ruleFilter,
      Some(ruleFilterSql),
      "X73 Gopher-style rule cascade: per-rule integer-exact flags in one narrow pass"),
    "q_token_budget" -> QueryDef(
      tokenBudget,
      Some(tokenBudgetSql),
      "X74 data-constrained epoch allocation: full epochs + salted remainder fill per source"),
    "q_unimax" -> QueryDef(
      unimax,
      Some(unimaxSql),
      "X156 UniMax language-budget waterfilling: uniform spend, per-language epoch cap"),
    "q_train_order" -> QueryDef(
      trainOrder,
      Some(trainOrderSql),
      "X81 training-order emission: X74 epochs materialized with per-epoch shuffle positions"),
    "q_anneal_plan" -> QueryDef(
      annealPlan,
      Some(annealPlanSql),
      "X114 quality-annealed phase plan: stable/anneal token split with rule-clean upweights per source"),
    "q_split_time" -> QueryDef(
      splitTime,
      Some(splitTimeSql),
      "X102 embargoed temporal split: exact p80 order-statistic cut + 12h purge band, gap verdict"),
    "q_decontam_semantic" -> QueryDef(
      decontamSemantic,
      Some(decontamSemanticSql),
      "X100 semantic decontamination: cosine sweep vs the broadcast eval set, argmax evidence"),
    "q_quality_cut" -> QueryDef(
      qualityCut,
      Some(qualityCutSql),
      "X76 relative quality cut: keep the top 30% per source by integer TTR rank"),
    "q_clf_agreement" -> QueryDef(
      clfAgreement,
      Some(clfAgreementSql),
      "X108 gate agreement: per-logit-bin keep rates of X67 vs X73 + corpus Cohen's kappa"),
    "q_clf_auc" -> QueryDef(
      clfAuc,
      Some(clfAucSql),
      "X129 classifier ROC/AUC: per-bin exact TPR/FPR + tie-corrected Mann-Whitney AUC vs the rule label"),
    "q_kanon" -> QueryDef(
      kanon,
      Some(kanonSql),
      "X132 k-anonymity release audit: per level, classes below k + at-risk rows/share, true k riding"),
    "q_ldiversity" -> QueryDef(
      ldiversity,
      Some(ldiversitySql),
      "X135 l-diversity release audit: per level, homogeneous classes + at-risk rows/share, true l riding"),
    "q_tcloseness" -> QueryDef(
      tcloseness,
      Some(tclosenessSql),
      "X137 t-closeness release audit: per level, EMD-skewed classes + at-risk rows/share, true t riding"),
    "q_profile_drift" -> QueryDef(
      profileDrift,
      Some(profileDriftSql),
      "X140 per-column profile drift: version-vs-version stats with integer >5% regression flags"),
    "q_dp_release" -> QueryDef(
      dpRelease,
      Some(dpReleaseSql),
      "X143 DP count release: hash-deterministic Laplace noise per (source, epsilon) + calibration audit"),
    "q_clf_calibration" -> QueryDef(
      clfCalibration,
      Some(clfCalibrationSql),
      "X149 classifier calibration: per-bin predicted-vs-observed reliability table + exact ECE/MCE"),
    "q_mix_temperature" -> QueryDef(
      mixTemperature,
      Some(mixTemperatureSql),
      "X151 mixture-temperature sweep: per (T, slice) resampled weight + training epochs, max-epochs verdict"),
    "q_decontam_report" -> QueryDef(
      decontamReport,
      Some(decontamReportSql),
      "X152 per-benchmark contamination report: touching train docs, worst-offender overlap, burned verdict + suite share"),
    "q_watermark" -> QueryDef(
      watermark,
      Some(watermarkSql),
      "X154 synthetic-text watermark screen: per-doc green-list z-score, integer-exact z>=2 verdict"),
    "q_label_noise" -> QueryDef(
      labelNoise,
      Some(labelNoiseSql),
      "X155 confident-learning label-noise estimate: 2x3 given-vs-predicted grid off class-mean thresholds, riding noise rate"),
  )
}
