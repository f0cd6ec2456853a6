package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Training-batch assembly operators (SURVEY.md §2.5 X30/X31): the two
  * steps between a curated corpus and a dataloader — packing documents
  * into fixed-token context windows, and the deterministic
  * train/val/test split with a reproducible shuffle order. The
  * reference gateway has neither; these are EXT obligations of the
  * "operations a large-scale training-data pipeline needs" mandate.
  *
  * Both are integer-exact (whitespace token counts, md5-derived order
  * keys, integer division), so the DuckDB oracle is hash-identical by
  * construction — and because BOTH queries' Spark plans use the
  * two-pass range-partitioned scheme while the oracle states the
  * plain single-window SQL, the oracle check itself pins the
  * distributed form ≡ the textbook form on every run.
  */
object Packing {

  import Hashing.h32

  /** Context-window token budget. 512 against this corpus's 10–100
    * token docs ⇒ bins hold several docs and straddles are regular —
    * the knob a real run sets to its model's sequence length.
    */
  private[graft] val ctxBudget = 512L

  /** Global EXCLUSIVE prefix sum of `valueCol` over the total order
    * `key` — the same two-pass range-partitioned scheme as
    * [[Extensions.rankedByRange]] (which computes prefix COUNTS;
    * this generalizes to prefix sums):
    *
    *  1. range-repartition on `key`: each partition holds a
    *     contiguous key slice and partition ids are ordered;
    *  2. per-partition value totals — a ≤`shuffle.partitions`-row
    *     aggregate — turned into per-partition OFFSETS by a
    *     prefix-sum window over that tiny table;
    *  3. local exclusive running sum within each partition +
    *     broadcast-join the offsets: global prefix = offset + local.
    *
    * A single `sum() over (order by key)` window — the form the
    * oracle states — moves the entire corpus to ONE sort task
    * (Spark's own WindowExec warning); here the largest serial unit
    * is one range partition and the offsets broadcast is bounded by
    * the partition count, a plan constant. Correct for ANY split
    * points the range sampler picks: offset + local sum is exact
    * per row regardless of where the contiguous cuts land.
    *
    * Load-bearing invariant — EXCHANGE REUSE: the offsets branch and
    * the local-sums branch both reference the range-repartitioned
    * subtree, and `RangePartitioner` samples split points per
    * instantiation. Correctness therefore requires both branches to
    * read ONE executed exchange (Catalyst's `ReuseExchangeAndSubquery`
    * / AQE's stage cache — both gated on `spark.sql.exchange.reuse`),
    * so the two `__pid` columns agree. The `require` below turns a
    * disabled-reuse session into a loud error instead of silently
    * wrong prefix sums, and PlanAuditSpec pins a `ReusedExchange` in
    * both declared plans so a future plan change that breaks
    * canonical-equality reuse fails at test time.
    */
  private[graft] def prefixSumByRange(
      e: DataFrame, key: Seq[String], valueCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(e.sparkSession.conf.get("spark.sql.exchange.reuse", "true").toBoolean,
      "prefixSumByRange requires spark.sql.exchange.reuse: the offsets and " +
        "local-sums branches must share one range exchange or their partition " +
        "ids diverge (independently sampled split points)")
    val parts = e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val b = e.repartitionByRange(parts, key.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    val offsets = b.groupBy(col("__pid")).agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off",
        coalesce(
          sum(col("__tot")).over(
            Window.partitionBy().orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__off"))
    val local = Window.partitionBy(col("__pid")).orderBy(key.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("__loc", coalesce(sum(col(valueCol)).over(local), lit(0L)))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__off") + col("__loc"))
      .drop("__pid", "__loc", "__off")
  }

  /** X30 — sequence packing (concat-and-chunk): place every document
    * in the token stream of a deterministic shuffled order (salted
    * md5 of doc_id — the reproducible "global shuffle" a training
    * run needs anyway) and assign it the context window its first
    * token lands in: `bin = prefix ÷ budget`, `bin_offset = prefix
    * mod budget`, plus a `crosses` flag for docs straddling a window
    * boundary (the ones a loader truncates or splits). This is the
    * GPT-style packed-pretraining layout: no padding waste, bins
    * perfectly full by construction.
    *
    * All integer: token counts are whitespace counts (the X8 rule),
    * the prefix sum is exact BIGINT via [[prefixSumByRange]], and
    * bin/offset/crosses are integer division on nonnegative longs —
    * no float anywhere, so the oracle is hash-identical by
    * construction.
    *
    * Scale shape (100 TB): the only corpus-wide structure is the
    * prefix sum, and [[prefixSumByRange]] keeps its largest serial
    * unit at one range partition; everything downstream is narrow
    * per-row arithmetic. The md5 order key doubles as the anti-skew
    * guarantee — range partitions of a uniform hash key are uniform,
    * so no partition is hot no matter how the corpus is clustered.
    */
  private def packChunks(s: SparkSession, dir: String): DataFrame =
    packChunksFrom(Tables(s, dir, "documents")).orderBy("doc_id")

  /** The packing layout over an arbitrary (doc_id, text) frame — for
    * composed pipelines packing a derived (gated, deduped, capped)
    * corpus instead of the raw table.
    */
  private[graft] def packChunksFrom(docs: DataFrame): DataFrame = {
    val t = docs
      .select(
        col("doc_id"),
        md5(concat(lit("pack"), col("doc_id").cast("string"))).as("k"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    prefixSumByRange(t, Seq("k", "doc_id"), "tok", "cb")
      .select(
        col("doc_id"),
        expr(s"CAST(cb DIV $ctxBudget AS BIGINT)").as("bin"),
        (col("cb") % ctxBudget).cast("long").as("bin_offset"),
        col("tok"),
        expr(s"CAST(CASE WHEN (cb + tok - 1) DIV $ctxBudget > cb DIV $ctxBudget THEN 1 ELSE 0 END AS BIGINT)")
          .as("crosses"))
  }

  /** X126 — packed-layout split audit (`q_pack_split_audit`): the
    * loader-misconfiguration detector — a production run packs each
    * split SEPARATELY; if the corpus-wide X30 layout is fed to a
    * split-aware loader, context windows straddle train/val/test and
    * eval tokens leak into training windows. Per bin: docs, distinct
    * splits touched, the straddle flag; riding every row, the corpus
    * verdict (bins, straddling bins, straddle share 4dp HALF_UP).
    * On THIS corpus-wide pack the audit fires by construction
    * (29 of 53 bins straddle at sf0.01, share 0.5472 — with ~10
    * docs per 512-token window and a 90/5/5 split, most windows
    * catch a val/test doc) — it reports exactly the violation it
    * exists to catch; a per-split pack reads all-zero
    * (PackingSpec pins both: the live corpus-wide count and a
    * zero-straddle recount over a single-split slice through the
    * same factored machinery).
    *
    * Scale shape: the X30 prefix-sum machine (one range exchange)
    * plus the pure-function [[splitOf]] per row, ONE exchange to the
    * bin grain (corpus÷512-sized), the per-bin table checkpointed
    * (two consumers: rows + totals — the q_dedup_sweep lesson),
    * totals a 1-row broadcast.
    */
  private[graft] def packSplitAuditFrom(docs: DataFrame): DataFrame = {
    val bins = packChunksFrom(docs)
      .select(col("doc_id"), col("bin"))
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("split")).as("n_splits"))
      .withColumn("straddle", (col("n_splits") > 1).cast("long"))
      .localCheckpoint()
    val tot = bins.agg(count(lit(1)).as("n_bins"), sum(col("straddle")).as("n_straddle"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs").cast("long").as("n_docs"),
        col("n_splits").cast("long").as("n_splits"), col("straddle"),
        col("n_bins").cast("long").as("n_bins"),
        Extensions.share4("n_straddle", "n_bins").as("straddle_share"))
      .orderBy("bin")
  }

  private def packSplitAudit(s: SparkSession, dir: String): DataFrame =
    packSplitAuditFrom(Tables(s, dir, "documents"))

  private def packSplitAuditSql: String = {
    val sc = splitCaseSql("doc_id")
    s"""WITH t AS (
       |  SELECT doc_id, md5('pack' || CAST(doc_id AS VARCHAR)) AS k,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tok,
       |    COALESCE(SUM(tok) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM t),
       |a AS (
       |  SELECT CAST(cb // $ctxBudget AS BIGINT) AS bin, doc_id,
       |    $sc AS split
       |  FROM c),
       |b AS (
       |  SELECT bin, count(*) AS n_docs, count(DISTINCT split) AS n_splits,
       |    CAST(count(DISTINCT split) > 1 AS BIGINT) AS straddle
       |  FROM a GROUP BY 1),
       |tt AS (SELECT count(*) AS n_bins, sum(straddle) AS n_straddle FROM b)
       |SELECT b.bin, CAST(b.n_docs AS BIGINT) AS n_docs,
       |  CAST(b.n_splits AS BIGINT) AS n_splits, b.straddle,
       |  CAST(tt.n_bins AS BIGINT) AS n_bins,
       |  CAST((20000 * tt.n_straddle + tt.n_bins) // (2 * tt.n_bins) AS BIGINT)
       |    / 10000.0 AS straddle_share
       |FROM b, tt ORDER BY bin""".stripMargin
  }

  /** X31 — deterministic train/val/test split with a reproducible
    * within-split shuffle position: split by salted-hash percentile
    * (90/5/5 — the X16 mechanism pointed at set assignment instead
    * of sampling), position by global rank of a SECOND salt's hash
    * within each split. Two independent salts matter: reusing one
    * hash for both decisions would correlate split membership with
    * shuffle position (val would replay train's order tail).
    *
    * Rank, not raw hash, is the output because a dataloader needs a
    * dense 1..n index to shard epochs; the rank is computed by
    * [[Extensions.rankedByRange]] — per-(partition, split) counts →
    * prefix offsets → offset + local rank — so no task ever sorts a
    * whole split (at 90 % of the corpus, the train split IS the
    * corpus; a split-keyed window would be the single-sort-task
    * failure the X29 scale companion exists for, here on the
    * DECLARED path).
    */
  private def splitHash(s: SparkSession, dir: String): DataFrame =
    splitHashFrom(Tables(s, dir, "documents")).orderBy("doc_id")

  /** X118 — split-balance audit (`q_split_balance`): is the X31 hash
    * split REPRESENTATIVE? A content-hash split is unbiased in
    * expectation, but any given salt realizes ONE draw — and a split
    * whose val slice skews long-doc or single-source silently skews
    * every eval number downstream. Per split: the exact KS statistic
    * of its length distribution against the full corpus (the X56
    * collapse-first machinery keyed by split instead of source) and
    * the worst per-source composition deviation
    * max_k ǀc_sk/n_s − c_k/nǀ — the two "does this slice look like
    * the corpus" numbers an eval harness checks before trusting a
    * split.
    *
    * Integer end-to-end (X56 discipline): both statistics are
    * cross-multiplied integer rationals rounded 4dp by DECIMAL(38,0)
    * HALF_UP division — no float before the final /10⁴. Split
    * membership is the [[splitOf]] pure function (no split-table
    * join — the map-not-shuffle rule).
    *
    * Scale shape: two narrow corpus passes collapse map-side to the
    * ǀsplitsǀ×ǀlensǀ and ǀsplitsǀ×ǀsourcesǀ matrices; windows and
    * maxes run over those dictionaries only; the two verdicts join
    * on the 3-row split key.
    */
  private def splitBalance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = Tables(s, dir, "documents")
      .select(splitOf(col("doc_id")).as("split"), col("n_chars"), col("source"))
    // KS half: (split, n_chars) matrix vs the corpus-marginal ECDF
    val m = base.groupBy(col("split"), col("n_chars")).agg(count(lit(1)).as("c"))
    val cv = m.groupBy(col("n_chars")).agg(sum(col("c")).as("cv"))
      .withColumn("cum_all",
        sum(col("cv")).over(Window.partitionBy().orderBy(col("n_chars"))))
      .withColumn("n_total", sum(col("cv")).over(wAll))
    val ms = m
      .withColumn("cum_s",
        sum(col("c")).over(Window.partitionBy(col("split")).orderBy(col("n_chars"))))
      .withColumn("n_s",
        sum(col("c")).over(Window.partitionBy(col("split"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val atV = abs(col("cum_s") * col("n_total") - col("cum_all") * col("n_s"))
    val atVMinus = abs((col("cum_s") - col("c")) * col("n_total")
      - (col("cum_all") - col("cv")) * col("n_s"))
    val ks = ms.join(cv, "n_chars")
      .groupBy(col("split"), col("n_s"))
      .agg(max(greatest(atV, atVMinus)).as("ks_num"),
        max(col("n_total")).as("n_total"))
      .withColumn("ks4", expr(Extensions.sq4(
        "CAST(ks_num AS DECIMAL(38,0))", "CAST(n_s AS DECIMAL(38,0)) * n_total")))
      .select(col("split"), col("n_s").cast("long").as("n_docs"),
        (col("ks4") / lit(10000.0)).as("ks"))
    // composition half: worst per-source share deviation over the
    // COMPLETE split×source grid — a source absent from a slice
    // deviates by its full corpus share, the exact cell the standard
    // present-cells-only implementation drops (the X101 mistake; the
    // spec's recount caught it here: test-slice dev read 0.0333 with
    // the true max 0.05 sitting on an absent source)
    val sm = base.groupBy(col("split"), col("source")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ck = sm.groupBy(col("source")).agg(sum(col("c")).as("ck"))
      .withColumn("n", sum(col("ck")).over(wAll))
    val ns = sm.groupBy(col("split")).agg(sum(col("c")).as("ns"))
    val dev = broadcast(ck).crossJoin(broadcast(ns))
      .join(sm, Seq("split", "source"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("num", abs(col("c") * col("n") - col("ck") * col("ns")))
      .groupBy(col("split"))
      .agg(max(expr(Extensions.sq4(
        "CAST(num AS DECIMAL(38,0))", "CAST(ns AS DECIMAL(38,0)) * n"))).as("dev4"))
      .select(col("split"), (col("dev4") / lit(10000.0)).as("max_src_dev"))
    ks.join(dev, "split").orderBy("split")
  }

  private def splitBalanceSql: String = {
    val sc = splitCaseSql("doc_id")
    s"""WITH base AS (
       |  SELECT $sc AS split, n_chars, source FROM documents),
       |m AS (SELECT split, n_chars, count(*) AS c FROM base GROUP BY 1, 2),
       |cv AS (
       |  SELECT n_chars, sum(c) AS cv,
       |    sum(sum(c)) OVER (ORDER BY n_chars) AS cum_all,
       |    sum(sum(c)) OVER () AS n_total
       |  FROM m GROUP BY n_chars),
       |ms AS (
       |  SELECT split, n_chars, c,
       |    sum(c) OVER (PARTITION BY split ORDER BY n_chars) AS cum_s,
       |    sum(c) OVER (PARTITION BY split) AS n_s
       |  FROM m),
       |ks AS (
       |  SELECT s.split, s.n_s,
       |    max(greatest(
       |      abs(s.cum_s * v.n_total - v.cum_all * s.n_s),
       |      abs((s.cum_s - s.c) * v.n_total - (v.cum_all - v.cv) * s.n_s)))
       |      AS ks_num,
       |    max(v.n_total) AS n_total
       |  FROM ms s JOIN cv v USING (n_chars) GROUP BY 1, 2),
       |sm AS (SELECT split, source, count(*) AS c FROM base GROUP BY 1, 2),
       |ck AS (SELECT source, sum(c) AS ck, sum(sum(c)) OVER () AS n FROM sm GROUP BY 1),
       |ns AS (SELECT split, sum(c) AS ns FROM sm GROUP BY 1),
       |grid AS (
       |  SELECT t.split, k.source, k.ck, k.n, t.ns, COALESCE(s.c, 0) AS c
       |  FROM ck k CROSS JOIN ns t
       |  LEFT JOIN sm s ON s.split = t.split AND s.source = k.source),
       |dev AS (
       |  SELECT split,
       |    max((CAST(abs(c * n - ck * ns) AS HUGEINT) * 20000
       |         + CAST(ns AS HUGEINT) * n)
       |      // (2 * CAST(ns AS HUGEINT) * n)) AS dev4
       |  FROM grid GROUP BY 1)
       |SELECT k.split, CAST(k.n_s AS BIGINT) AS n_docs,
       |  CAST((CAST(k.ks_num AS HUGEINT) * 20000
       |        + CAST(k.n_s AS HUGEINT) * k.n_total)
       |    // (2 * CAST(k.n_s AS HUGEINT) * k.n_total) AS BIGINT) / 10000.0 AS ks,
       |  CAST(d.dev4 AS BIGINT) / 10000.0 AS max_src_dev
       |FROM ks k JOIN dev d USING (split) ORDER BY split""".stripMargin
  }

  /** Split membership as a PURE FUNCTION of the doc id (the X31
    * hash-percentile rule factored out): anything that needs to know a
    * doc's split — X31 itself, the X62 cross-split leakage scan — can
    * compute it in a narrow projection instead of joining a
    * corpus-sized split table. At 100 TB that is the difference
    * between a map and a shuffle.
    */
  private[graft] def splitOf(id: Column): Column = {
    val u = h32(concat(lit("split"), id.cast("string"))) % 100
    when(u < 90, "train").when(u < 95, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitOf]] over an arbitrary id expression. */
  private[graft] def splitCaseSql(idExpr: String): String = {
    val u = s"('0x' || substr(md5('split' || CAST($idExpr AS VARCHAR)), 1, 8))::BIGINT % 100"
    s"CASE WHEN $u < 90 THEN 'train' WHEN $u < 95 THEN 'val' ELSE 'test' END"
  }

  /** The split assignment + shuffle position over an arbitrary frame
    * with a doc_id column — the composed-pipeline entry point.
    */
  private[graft] def splitHashFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .select(
        col("doc_id"),
        md5(concat(lit("ord"), col("doc_id").cast("string"))).as("h"))
      .withColumn("split", splitOf(col("doc_id")))
    Extensions.rankedByRange(d, "split", Seq("h", "doc_id"), "pos")
      .select(col("doc_id"), col("split"), col("pos").cast("long").as("pos"))
  }

  /** Candidate context lengths for the X75 efficiency report —
    * powers of two around [[ctxBudget]], the grid a sequence-length
    * decision actually scans.
    */
  private[graft] val ctxCandidates = Seq(128L, 256L, 512L, 1024L)

  /** X75 — packing-efficiency report (`q_pack_efficiency`): the
    * context-length planning table read before committing a model's
    * sequence length — for each candidate C, how many bins the X30
    * greedy layout needs, the tail waste, and the fraction of
    * documents split across a bin boundary (the attention-
    * fragmentation cost concat-and-chunk packing pays; the reason
    * papers report "document boundary crossings" next to packing
    * efficiency). One prefix-sum pass is shared by ALL candidates:
    * the cumulative offsets don't depend on C, so the per-C numbers
    * are conditional aggregates over the same cum frame — a 4×
    * narrow expand into a 4-GROUP aggregate (map-side partials make
    * the 4-group shuffle a plan constant), not four packings.
    *
    * Integer-exact throughout: bins = ceil-div, waste = bins·C − T,
    * crossing fraction rounded 4dp in integer space (the X58
    * discipline).
    */
  private def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(concat(lit("pack"), col("doc_id").cast("string"))).as("k"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    prefixSumByRange(t, Seq("k", "doc_id"), "tok", "cb")
      .select(col("tok"), col("cb"),
        explode(array(ctxCandidates.map(lit(_)): _*)).as("ctx"))
      .groupBy(col("ctx"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("total_tokens"),
        sum(expr("CASE WHEN (cb + tok - 1) div ctx > cb div ctx THEN 1 ELSE 0 END"))
          .cast("long").as("n_crossing"))
      .select(col("ctx"), col("n_docs"), col("total_tokens"),
        expr("(total_tokens + ctx - 1) div ctx").cast("long").as("n_bins"),
        (expr("(total_tokens + ctx - 1) div ctx") * col("ctx") - col("total_tokens"))
          .cast("long").as("tail_waste"),
        col("n_crossing"),
        Extensions.share4("n_crossing", "n_docs").as("crossing_frac"))
      .orderBy("ctx")
  }

  private def packEfficiencySql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, md5('pack' || CAST(doc_id AS VARCHAR)) AS k,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |pk AS (
       |  SELECT doc_id, tok,
       |    COALESCE(SUM(tok) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM pt),
       |x AS (
       |  SELECT pk.tok, pk.cb, c.ctx
       |  FROM pk CROSS JOIN (SELECT unnest([${ctxCandidates.mkString(", ")}]) AS ctx) c),
       |a AS (
       |  SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(tok) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN (cb + tok - 1) // ctx > cb // ctx THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_crossing
       |  FROM x GROUP BY ctx)
       |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs, total_tokens,
       |  CAST((total_tokens + ctx - 1) // ctx AS BIGINT) AS n_bins,
       |  CAST(((total_tokens + ctx - 1) // ctx) * ctx - total_tokens AS BIGINT) AS tail_waste,
       |  n_crossing,
       |  CAST((20000 * n_crossing + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0 AS crossing_frac
       |FROM a ORDER BY ctx""".stripMargin

  /** Compaction target size in payload bytes. 4 KiB against this
    * corpus's 49–553-byte docs ⇒ several docs per file and several
    * files per source at sf0.01 — the knob a real OPTIMIZE sets to
    * ~1 GiB. Deliberately NOT row-count-based: compaction exists to
    * equalize BYTES (scan cost), which doc counts only proxy.
    */
  private[graft] val targetFileBytes = 4096L

  /** X91 — compaction / file bin-packing plan (`q_compact_plan`): the
    * OPTIMIZE step every streaming-ingested 100 TB table needs —
    * micro-batch sinks write thousands of KB-sized files, and scan
    * cost degrades with file count (driver listing, task scheduling,
    * per-file open overhead), so a maintenance job periodically
    * rewrites each partition's small files into ~target-sized ones.
    * This operator emits the PLAN: a deterministic (source, file_seq)
    * assignment — docs in (source, doc_id) order, cut greedily at the
    * byte target — with per-planned-file stats (docs, bytes, id
    * range). The rewrite job executes it with ONE
    * `repartitionByRange(source, file_seq)` + per-file writers; the
    * plan itself is what needs the distributed thinking.
    *
    * Scale shape: the only corpus-wide structure is the byte prefix
    * sum, and it reuses [[prefixSumByRange]] GLOBALLY over the total
    * order (source, doc_id) — a per-SOURCE window would put one
    * source's whole byte stream in a single sort task (the X38/X85
    * skew hazard, on the operator whose very premise is that some
    * sources are huge). The per-source exclusive prefix is recovered
    * arithmetically: global_prefix − min(global_prefix) over the
    * source (a ≤|sources|-row aggregate broadcast back, the house
    * bounded-broadcast rule). File cut = prefix DIV target; the final
    * rollup is one keyed aggregate on (source, file_seq) with
    * map-side partials. All integer (ASCII corpus: length == bytes),
    * no float anywhere.
    */
  private def compactPlan(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("bytes"))
    val b = prefixSumByRange(t, Seq("source", "doc_id"), "bytes", "cb")
    val base = b.groupBy(col("source")).agg(min(col("cb")).as("base"))
    b.join(base, Seq("source"))
      .withColumn("file_seq",
        expr(s"CAST((cb - base) DIV $targetFileBytes AS BIGINT)"))
      .groupBy(col("source"), col("file_seq"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("bytes")).cast("long").as("bytes"),
        min(col("doc_id")).cast("long").as("first_doc"),
        max(col("doc_id")).cast("long").as("last_doc"))
      .orderBy(col("source"), col("file_seq"))
  }

  private def compactPlanSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS bytes FROM documents),
       |p AS (
       |  SELECT doc_id, source, bytes,
       |    COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS loc
       |  FROM d)
       |SELECT source, CAST(loc // $targetFileBytes AS BIGINT) AS file_seq,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(bytes) AS BIGINT) AS bytes,
       |  CAST(min(doc_id) AS BIGINT) AS first_doc,
       |  CAST(max(doc_id) AS BIGINT) AS last_doc
       |FROM p GROUP BY source, file_seq
       |ORDER BY source, file_seq""".stripMargin

  /** Output file count for the X92 Z-order layout — the "file" grain
    * min/max stats attach to. 16 against 1k–10k-row test events; a
    * real OPTIMIZE ZORDER derives it from total bytes / target size
    * (X91's knob).
    */
  private[graft] val zorderFiles = 16L

  /** Bit-interleave of two 8-bit lattice coordinates as a pure
    * integer-arithmetic expression — Σᵢ bitᵢ(a)·4ⁱ + bitᵢ(b)·2·4ⁱ,
    * stated with div/mod/multiply only so the SAME formula string
    * (modulo each engine's integer-division spelling) evaluates
    * bit-identically in Spark and DuckDB. Generated, not hand-written:
    * 16 terms that could silently drift are one loop here.
    */
  private[graft] def zInterleaveExpr(a: String, b: String, divOp: String): String =
    (0 until 8).map { i =>
      val p = 1L << i
      val q = 1L << (2 * i)
      s"((($a) $divOp $p) % 2) * $q + ((($b) $divOp $p) % 2) * ${2 * q}"
    }.mkString(" + ")

  /** X92 — Z-order (space-filling-curve) layout (`q_zorder`): the
    * multi-dimensional data-skipping step — Delta's OPTIMIZE ZORDER,
    * Iceberg's sort-order rewrite — for tables queried on MORE THAN
    * ONE column. A time-ordered events table skips beautifully on
    * `ts` predicates and not at all on `user_id` (every file spans
    * the full user range); linearizing on the interleaved bits of
    * both dimensions gives every file a small RECTANGLE in
    * (user, time) space, so min/max file stats prune on either
    * predicate, at the cost of each dimension's span growing from
    * ~1/F to ~1/√F of its domain. Declared output is the stats table
    * the skipping decision actually reads: per planned file, row
    * count and the (user-bucket, time-bucket) min/max rectangle —
    * PackingSpec measures the claim by comparing summed rectangle
    * areas against the naive id-ordered layout.
    *
    * Mechanics, all integer-exact: both dimensions scale to a 0..255
    * lattice off a one-row min/max stats broadcast (the X18 pattern —
    * `((v − v₀)·256) div (v₁ − v₀ + 1)`), the z-value is
    * [[zInterleaveExpr]] (pure div/mod arithmetic, same formula
    * interpolated into both engines), and the file cut is the X31
    * machinery: global z-rank via [[Extensions.rankedByRange]] under
    * a constant group (never a single-task global sort), ranks joined
    * back by the unique event id, `file = ((rank−1)·F) div n`.
    *
    * Scale shape: one events scan + two plan-constant broadcasts +
    * ONE executed range exchange (reuse-pinned) + an id-keyed rank
    * join + a ≤F-row aggregate. At 100 TB the same plan IS the
    * rewrite job — swap the final aggregate for
    * `repartitionByRange(file_id)` writers and keep the stats as the
    * manifest entries.
    */
  private def zorder(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val stats = e.agg(
      min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
      min(col("us")).as("t0"), max(col("us")).as("t1"),
      count(lit(1)).as("n"))
    val z = e.crossJoin(broadcast(stats))
      .select(col("event_id"), col("n"),
        expr("CAST(((user_id - u0) * 256) DIV (u1 - u0 + 1) AS BIGINT)").as("ub"),
        expr("CAST(((us - t0) * 256) DIV (t1 - t0 + 1) AS BIGINT)").as("tb"))
      .withColumn("z", expr(zInterleaveExpr("ub", "tb", "DIV")).cast("long"))
    val ranked = Extensions.rankedByRange(
      z.select(col("z"), col("event_id")).withColumn("g", lit(1)),
      "g", Seq("z", "event_id"), "zr")
      .select(col("event_id"), col("zr"))
    z.join(ranked, Seq("event_id"))
      .withColumn("file_id", expr(s"CAST(((zr - 1) * $zorderFiles) DIV n AS BIGINT)"))
      .groupBy(col("file_id"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        min(col("ub")).cast("long").as("ub_min"),
        max(col("ub")).cast("long").as("ub_max"),
        min(col("tb")).cast("long").as("tb_min"),
        max(col("tb")).cast("long").as("tb_max"))
      .orderBy(col("file_id"))
  }

  private def zorderSql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |st AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
       |         min(us) AS t0, max(us) AS t1, count(*) AS n FROM e),
       |b AS (
       |  SELECT event_id, n,
       |    ((user_id - u0) * 256) // (u1 - u0 + 1) AS ub,
       |    ((us - t0) * 256) // (t1 - t0 + 1) AS tb
       |  FROM e, st),
       |z AS (SELECT event_id, n, ub, tb,
       |        ${zInterleaveExpr("ub", "tb", "//")} AS z FROM b),
       |r AS (SELECT *, row_number() OVER (ORDER BY z, event_id) AS zr FROM z)
       |SELECT CAST(((zr - 1) * $zorderFiles) // n AS BIGINT) AS file_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(min(ub) AS BIGINT) AS ub_min, CAST(max(ub) AS BIGINT) AS ub_max,
       |  CAST(min(tb) AS BIGINT) AS tb_min, CAST(max(tb) AS BIGINT) AS tb_max
       |FROM r GROUP BY file_id ORDER BY file_id""".stripMargin

  /** X164's literal predicate battery over the 256×256 (user-bucket,
    * time-bucket) lattice: a 1-D user slice (zone maps useless under
    * time-ordered layout), a 1-D time slice (where the natural layout
    * already prunes), and a 2-D cell (where ONLY a space-filling-curve
    * layout prunes both dimensions). Bounds are plan literals.
    */
  private[graft] val zonePreds: Seq[(String, Long, Long, Long, Long)] = Seq(
    ("cell", 200L, 210L, 96L, 127L),
    ("time_slice", 0L, 255L, 0L, 31L),
    ("user_slice", 100L, 120L, 0L, 255L))

  /** X164 — zone-map pruning audit (`q_zonemap_skip`): the number
    * X92's layout exists to improve, measured exactly. Data-skipping
    * engines (Delta/Iceberg/parquet row groups) prune a file when its
    * min/max zone is disjoint from the predicate; this audit plans
    * BOTH layouts — natural (event_id order, ≈ time order on this
    * table) and the X92 Z-order — builds each file's (ub, tb) zone,
    * evaluates the [[zonePreds]] battery against every zone, and
    * reports exact files/rows skipped per (layout, predicate), with
    * the predicate's TRUE matching rows riding as the audit column
    * (skipping is sound iff every matching row survives — the spec
    * recounts both). The expected story, pinned by PackingSpec: the
    * natural layout prunes the time slice and nothing else; Z-order
    * prunes BOTH dimensions of the 2-D cell — the quantified "why
    * Z-order" answer a table owner reads before paying the rewrite.
    *
    * Scale: ONE narrow events pass buckets every row (the X92 chain),
    * two range-rank passes assign files, zones collapse to
    * 2 × [[zorderFiles]] rows; the battery explodes over the ZONES
    * table (≤ 96 rows), never the corpus — only the matching-rows
    * audit re-reads the bucketed pass (3 conditional counts,
    * map-side). No join touches corpus-sized data.
    */
  private def zonemapSkip(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val stats = e.agg(
      min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
      min(col("us")).as("t0"), max(col("us")).as("t1"),
      count(lit(1)).as("n"))
    val b = e.crossJoin(broadcast(stats))
      .select(col("event_id"), col("n"),
        expr("CAST(((user_id - u0) * 256) DIV (u1 - u0 + 1) AS BIGINT)").as("ub"),
        expr("CAST(((us - t0) * 256) DIV (t1 - t0 + 1) AS BIGINT)").as("tb"))
      .withColumn("z", expr(zInterleaveExpr("ub", "tb", "DIV")).cast("long"))
    // rankedByRange requires the projection to carry range keys only
    def ranked(order: Seq[String], name: String): DataFrame =
      Extensions.rankedByRange(
        b.select(order.map(col): _*).withColumn("g", lit(1)),
        "g", order, name)
        .select(col("event_id"), col(name).as("r"))
    val zones = Seq(
      "natural" -> ranked(Seq("event_id"), "rn"),
      "zorder" -> ranked(Seq("z", "event_id"), "rz"))
      .map { case (layout, rk) =>
        b.join(rk, "event_id")
          .withColumn("file_id", expr(s"CAST(((r - 1) * $zorderFiles) DIV n AS BIGINT)"))
          .groupBy(col("file_id"))
          .agg(count(lit(1)).as("nr"),
            min(col("ub")).as("ub0"), max(col("ub")).as("ub1"),
            min(col("tb")).as("tb0"), max(col("tb")).as("tb1"))
          .withColumn("layout", lit(layout))
      }
      .reduce(_ unionByName _)
    val predArr = array(zonePreds.map { case (nm, ul, uh, tl, th) =>
      struct(lit(nm).as("pred"), lit(ul).as("ul"), lit(uh).as("uh"),
        lit(tl).as("tl"), lit(th).as("th"))
    }: _*)
    val audited = zones
      .select(col("layout"), col("nr"), col("ub0"), col("ub1"), col("tb0"),
        col("tb1"), explode(predArr).as("p"))
      .select(col("layout"), col("nr"), col("p.pred").as("pred"),
        (col("ub1") < col("p.ul") || col("ub0") > col("p.uh") ||
          col("tb1") < col("p.tl") || col("tb0") > col("p.th")).cast("long")
          .as("skipped"))
      .groupBy(col("layout"), col("pred"))
      .agg(
        count(lit(1)).cast("long").as("n_files"),
        sum(col("skipped")).cast("long").as("files_skipped"),
        sum(col("nr")).cast("long").as("rows_total"),
        sum(when(col("skipped") === 1L, col("nr")).otherwise(0L)).cast("long")
          .as("rows_skipped"))
    val matchCols = zonePreds.map { case (nm, ul, uh, tl, th) =>
      sum(when(col("ub").between(ul, uh) && col("tb").between(tl, th), 1L)
        .otherwise(0L)).as(nm)
    }
    val matching = b
      .agg(matchCols.head, matchCols.tail: _*)
      .select(explode(array(zonePreds.map { case (nm, _, _, _, _) =>
        struct(lit(nm).as("pred"), col(nm).cast("long").as("rows_matching"))
      }: _*)).as("m"))
      .select(col("m.pred").as("pred"), col("m.rows_matching").as("rows_matching"))
    audited.join(broadcast(matching), Seq("pred"))
      .select(col("layout"), col("pred"), col("n_files"), col("files_skipped"),
        col("rows_total"), col("rows_skipped"), col("rows_matching"),
        Extensions.share4("rows_skipped", "rows_total").as("skip_share"))
      .orderBy("layout", "pred")
  }

  private def zonemapSkipSql: String = {
    val predVals = zonePreds
      .map { case (nm, ul, uh, tl, th) => s"('$nm', $ul, $uh, $tl, $th)" }
      .mkString(", ")
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |st AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
       |         min(us) AS t0, max(us) AS t1, count(*) AS n FROM e),
       |b AS (
       |  SELECT event_id, n,
       |    ((user_id - u0) * 256) // (u1 - u0 + 1) AS ub,
       |    ((us - t0) * 256) // (t1 - t0 + 1) AS tb
       |  FROM e, st),
       |z AS (SELECT event_id, n, ub, tb,
       |        ${zInterleaveExpr("ub", "tb", "//")} AS z FROM b),
       |rn AS (SELECT event_id, n, ub, tb,
       |        row_number() OVER (ORDER BY event_id) AS r_nat,
       |        row_number() OVER (ORDER BY z, event_id) AS r_z FROM z),
       |zones AS (
       |  SELECT 'natural' AS layout, ((r_nat - 1) * $zorderFiles) // n AS file_id,
       |    count(*) AS nr, min(ub) AS ub0, max(ub) AS ub1,
       |    min(tb) AS tb0, max(tb) AS tb1
       |  FROM rn GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'zorder' AS layout, ((r_z - 1) * $zorderFiles) // n AS file_id,
       |    count(*), min(ub), max(ub), min(tb), max(tb)
       |  FROM rn GROUP BY 1, 2),
       |preds AS (SELECT * FROM (VALUES $predVals) p(pred, ul, uh, tl, th)),
       |aud AS (
       |  SELECT zo.layout, p.pred, zo.nr,
       |    CASE WHEN zo.ub1 < p.ul OR zo.ub0 > p.uh
       |           OR zo.tb1 < p.tl OR zo.tb0 > p.th THEN 1 ELSE 0 END AS skipped
       |  FROM zones zo CROSS JOIN preds p),
       |m AS (
       |  SELECT p.pred, count(*) AS rows_matching
       |  FROM b CROSS JOIN preds p
       |  WHERE b.ub BETWEEN p.ul AND p.uh AND b.tb BETWEEN p.tl AND p.th
       |  GROUP BY 1)
       |SELECT a.layout, a.pred, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(a.skipped) AS BIGINT) AS files_skipped,
       |  CAST(sum(a.nr) AS BIGINT) AS rows_total,
       |  CAST(sum(CASE WHEN a.skipped = 1 THEN a.nr ELSE 0 END) AS BIGINT) AS rows_skipped,
       |  CAST(COALESCE(min(m.rows_matching), 0) AS BIGINT) AS rows_matching,
       |  CAST((20000 * sum(CASE WHEN a.skipped = 1 THEN a.nr ELSE 0 END) + sum(a.nr))
       |       // (2 * sum(a.nr)) AS BIGINT) / 10000.0 AS skip_share
       |FROM aud a LEFT JOIN m ON m.pred = a.pred
       |GROUP BY a.layout, a.pred ORDER BY a.layout, a.pred""".stripMargin
  }

  /** X98 — training-window provenance audit (`q_bin_provenance`): the
    * "what is actually in batch N" table — per X30 context window, the
    * doc count, distinct-source count, dominant source and its share,
    * with the corpus-wide worst dominance riding every row as the
    * one-number verdict. The salted shuffle order exists precisely so
    * no window is dominated by one crawl (source-correlated windows
    * bias gradients the way unshuffled epochs do); this operator is
    * the AUDIT that the shuffle did its job, and the table a
    * data-incident responder greps when one source turns out poisoned
    * ("which windows did src9 touch?").
    *
    * Determinism: dominance ties break by the struct-max order
    * (count, then lexicographically LAST source) — mirrored in the
    * oracle as `ORDER BY c DESC, source DESC`; shares round 4dp in
    * integer space.
    *
    * Scale shape: X30's prefix-sum machinery unchanged (one range
    * exchange), one id-keyed metadata join, then two nested
    * aggregates whose grain shrinks monotonically — (bin, source) ≤
    * bins×ǀsourcesǀ, then bins — with map-side partials; the verdict
    * is a 1-row broadcast (the X18 pattern). Never a corpus window.
    */
  private def binProvenance(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val bs = packChunksFrom(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("bin"))
      .join(meta, Seq("doc_id"))
      .groupBy(col("bin"), col("source"))
      .agg(count(lit(1)).as("c"))
    val perBin = bs.groupBy(col("bin"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        max(struct(col("c"), col("source"))).as("m"))
      .select(col("bin"), col("n_docs"), col("n_sources"),
        col("m.source").as("top_source"),
        expr(Extensions.sq4("m.c", "n_docs")).as("ts4"))
    val worst = perBin.agg(max(col("ts4")).as("wt4"))
    perBin.crossJoin(broadcast(worst))
      .select(
        col("bin").cast("long").as("bin"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_sources").cast("long").as("n_sources"),
        col("top_source"),
        (col("ts4").cast("double") / 10000.0).as("top_share"),
        (col("wt4").cast("double") / 10000.0).as("worst_share"))
      .orderBy(col("bin"))
  }

  private def binProvenanceSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5('pack' || CAST(doc_id AS VARCHAR)) AS k,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    COALESCE(SUM(tok) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM t),
       |b AS (
       |  SELECT c.doc_id, CAST(cb // $ctxBudget AS BIGINT) AS bin, d.source
       |  FROM c JOIN documents d USING (doc_id)),
       |bs AS (SELECT bin, source, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY bin, source),
       |pb AS (
       |  SELECT bin, n_docs, n_sources, source AS top_source,
       |    (20000 * c + n_docs) // (2 * n_docs) AS ts4
       |  FROM (
       |    SELECT bin, c, source,
       |      sum(c) OVER (PARTITION BY bin) AS n_docs,
       |      count(*) OVER (PARTITION BY bin) AS n_sources,
       |      row_number() OVER (PARTITION BY bin ORDER BY c DESC, source DESC) AS rn
       |    FROM bs) x
       |  WHERE rn = 1),
       |w AS (SELECT max(ts4) AS wt4 FROM pb)
       |SELECT bin, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_sources AS BIGINT) AS n_sources, top_source,
       |  CAST(ts4 AS BIGINT) / 10000.0 AS top_share,
       |  CAST(wt4 AS BIGINT) / 10000.0 AS worst_share
       |FROM pb, w ORDER BY bin""".stripMargin

  /** Batch size (docs per batch) for X103. */
  private[graft] val batchB = 16L

  /** X103 — length-bucketed batching plan (`q_batch_plan`): the
    * PADDED-batching counterpart to X30's packed layout — fine-tuning,
    * evaluation, and inference loaders batch WHOLE sequences and pad
    * to the batch max, so batch composition decides how much compute
    * is spent on pad tokens; the standard remedy is length-bucketed
    * (dynamic) batching: group docs into coarse length buckets, sort
    * within the bucket, cut into fixed-size batches of near-equal
    * lengths. Buckets are power-of-two token bands ([0,32), [32,64),
    * [64,128), [128,∞) — config, like ctxBudget); within a bucket,
    * batches of [[batchB]] docs cut along the (tok, doc_id) order.
    * Output per batch: size, max/sum tokens, padding = n·max − sum;
    * riding every row, the corpus verdict: total bucketed padding vs
    * the padding of the SAME batch size over naive doc_id-order
    * batching — the measured saving that justifies the operator
    * (PackingSpec pins bucketed ≤ naive).
    *
    * Scale shape: TWO [[Extensions.rankedByRange]] machines (the
    * q_train_order precedent) — bucketed positions under the bucket
    * group (tok is a range KEY, so it rides the machine legally) and
    * naive positions under a constant group with tok joined back by
    * doc_id (the payload rule); each machine executes ONE sampled
    * range exchange read by both branches. Batch rollups shrink to
    * N/B rows; the two verdict totals are 1-row broadcasts (bins
    * scale with the corpus, so the verdict must NOT be a window over
    * them — the X98 broadcast rule, not the dictionary-window rule).
    * All integer end to end.
    */
  private def batchPlan(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("bucket",
        when(col("tok") < 32, 0L).when(col("tok") < 64, 1L)
          .when(col("tok") < 128, 2L).otherwise(3L))
    val bk = Extensions.rankedByRange(
      d.select(col("bucket"), col("tok"), col("doc_id")),
      "bucket", Seq("tok", "doc_id"), "pos")
    val perBatch = bk
      .withColumn("batch_id", expr(s"CAST((pos - 1) DIV $batchB AS BIGINT)"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max(col("tok")).cast("long").as("max_tok"),
        sum(col("tok")).cast("long").as("sum_tok"))
      .withColumn("padding", col("n_docs") * col("max_tok") - col("sum_tok"))
    val bucketedTotal = perBatch.groupBy()
      .agg(sum(col("padding")).cast("long").as("pad_bucketed_total"))
    val nk = Extensions.rankedByRange(
      d.select(lit(0L).as("g"), col("doc_id")), "g", Seq("doc_id"), "pos")
    val naiveTotal = nk
      .join(d.select(col("doc_id"), col("tok")), "doc_id")
      .withColumn("batch_id", expr(s"CAST((pos - 1) DIV $batchB AS BIGINT)"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), max(col("tok")).as("mx"), sum(col("tok")).as("sm"))
      .groupBy()
      .agg(sum(col("n") * col("mx") - col("sm")).cast("long").as("pad_naive_total"))
    perBatch
      .crossJoin(broadcast(bucketedTotal))
      .crossJoin(broadcast(naiveTotal))
      .orderBy("bucket", "batch_id")
  }

  private def batchPlanSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
       |    CASE WHEN len(string_split(text, ' ')) < 32 THEN 0
       |         WHEN len(string_split(text, ' ')) < 64 THEN 1
       |         WHEN len(string_split(text, ' ')) < 128 THEN 2
       |         ELSE 3 END AS bucket
       |  FROM documents),
       |bk AS (
       |  SELECT bucket, tok, doc_id,
       |    row_number() OVER (PARTITION BY bucket ORDER BY tok, doc_id) AS pos
       |  FROM d),
       |pb AS (
       |  SELECT bucket, (pos - 1) // $batchB AS batch_id,
       |    count(*) AS n_docs, max(tok) AS max_tok, sum(tok) AS sum_tok
       |  FROM bk GROUP BY 1, 2),
       |bt AS (SELECT sum(n_docs * max_tok - sum_tok) AS pad_bucketed_total FROM pb),
       |nk AS (SELECT doc_id, tok, row_number() OVER (ORDER BY doc_id) AS pos FROM d),
       |nb AS (
       |  SELECT (pos - 1) // $batchB AS batch_id,
       |    count(*) AS n, max(tok) AS mx, sum(tok) AS sm
       |  FROM nk GROUP BY 1),
       |nt AS (SELECT sum(n * mx - sm) AS pad_naive_total FROM nb)
       |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(batch_id AS BIGINT) AS batch_id,
       |  CAST(n_docs AS BIGINT) AS n_docs, CAST(max_tok AS BIGINT) AS max_tok,
       |  CAST(sum_tok AS BIGINT) AS sum_tok,
       |  CAST(n_docs * max_tok - sum_tok AS BIGINT) AS padding,
       |  CAST(bt.pad_bucketed_total AS BIGINT) AS pad_bucketed_total,
       |  CAST(nt.pad_naive_total AS BIGINT) AS pad_naive_total
       |FROM pb, bt, nt ORDER BY bucket, batch_id""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_pack_chunks" -> QueryDef(
      packChunks,
      Some(s"""WITH t AS (
              |  SELECT doc_id, md5('pack' || CAST(doc_id AS VARCHAR)) AS k,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, tok,
              |    COALESCE(SUM(tok) OVER (ORDER BY k, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              |  FROM t)
              |SELECT doc_id, CAST(cb // $ctxBudget AS BIGINT) AS bin,
              |  CAST(cb % $ctxBudget AS BIGINT) AS bin_offset, tok,
              |  CAST(CASE WHEN (cb + tok - 1) // $ctxBudget > cb // $ctxBudget
              |       THEN 1 ELSE 0 END AS BIGINT) AS crosses
              |FROM c ORDER BY doc_id""".stripMargin),
      "X30 sequence packing: concat-and-chunk context-window assignment, exact prefix sums"),
    "q_pack_split_audit" -> QueryDef(
      packSplitAudit,
      Some(packSplitAuditSql),
      "X126 packed-layout split audit: bins straddling train/val/test + the straddle-share verdict"),
    "q_split_balance" -> QueryDef(
      splitBalance,
      Some(splitBalanceSql),
      "X118 split-balance audit: per-split exact KS vs corpus + worst source-share deviation"),
    "q_split_hash" -> QueryDef(
      splitHash,
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS u,
             |    md5('ord' || CAST(doc_id AS VARCHAR)) AS h
             |  FROM documents),
             |l AS (
             |  SELECT doc_id, h,
             |    CASE WHEN u < 90 THEN 'train' WHEN u < 95 THEN 'val' ELSE 'test' END AS split
             |  FROM d)
             |SELECT doc_id, split,
             |  CAST(row_number() OVER (PARTITION BY split ORDER BY h, doc_id) AS BIGINT) AS pos
             |FROM l ORDER BY doc_id""".stripMargin),
      "X31 deterministic train/val/test split with reproducible shuffle positions"),
    "q_pack_efficiency" -> QueryDef(
      packEfficiency,
      Some(packEfficiencySql),
      "X75 packing-efficiency report: bins/waste/boundary-crossings per context length"),
    "q_compact_plan" -> QueryDef(
      compactPlan,
      Some(compactPlanSql),
      "X91 compaction plan: greedy byte-target file bin-packing per source, exact prefix sums"),
    "q_zorder" -> QueryDef(
      zorder,
      Some(zorderSql),
      "X92 Z-order layout: bit-interleaved (user, time) file assignment + min/max skipping stats"),
    "q_zonemap_skip" -> QueryDef(
      zonemapSkip,
      Some(zonemapSkipSql),
      "X164 zone-map pruning audit: exact files/rows skipped per predicate, natural vs Z-order layout"),
    "q_bin_provenance" -> QueryDef(
      binProvenance,
      Some(binProvenanceSql),
      "X98 training-window provenance: per-bin source mix + dominant-source verdict over X30"),
    "q_batch_plan" -> QueryDef(
      batchPlan,
      Some(batchPlanSql),
      "X103 length-bucketed batching plan: per-batch padding + bucketed-vs-naive verdict"),
  )
}
