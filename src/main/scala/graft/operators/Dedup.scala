package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Near-duplicate detection for training-data pipelines (SURVEY.md
  * §2.5 X5/X6 + the north-star dedup family): n-gram Jaccard via an
  * inverted shingle index, banded MinHash LSH, SimHash with banded
  * Hamming candidates, and embedding-cosine near-dup via sign-LSH
  * buckets. The reference gateway has no dedup at all — these are EXT
  * obligations, designed Spark-first.
  *
  * Every query here is deterministic and oracle-checked: the hash all
  * engines share is the first 8 hex chars of md5 (exact 32-bit integer
  * in both Spark `conv` and DuckDB's hex cast), thresholds are pure
  * integer arithmetic wherever possible, and the sf0.01 corpus gets
  * deterministic synthesized near-dups (drop-first-word copies /
  * one-element perturbed vectors) so outputs are never vacuous.
  *
  * Scale notes (100 TB): nothing here is all-pairs over the corpus.
  *  - Jaccard candidates come from the inverted shingle index (join on
  *    shingle), the classic sparse-similarity shape: cost tracks the
  *    number of *colliding* shingles, not N².
  *  - MinHash: signatures are one groupBy over exploded shingles
  *    (map-side partial min), candidates one equi-join on (band, key)
  *    — the textbook LSH plan; exact verification touches only
  *    candidate pairs.
  *  - SimHash: 60-bit sketch per doc, candidates via 7 bands (4×9 +
  *    3×8 bits) with per-band Hamming-≤1 multi-probe (pigeonhole-
  *    exact recall up to Hamming 13), Hamming check is xor+bit_count
  *    on two longs.
  *  - Embedding dedup probes only same-or-adjacent-bucket pairs
  *    (12-plane sign-LSH, 4096 buckets, Hamming-1 multi-probe) — a
  *    bucket equi-join, never cross.
  */
object Dedup {

  import Hashing.h32

  /** documents ∪ deterministic drop-first-word near-dup copies (ids
    * shifted by 200000; every 25th doc). Same derivation in every
    * oracle, so sf0.01 always contains true near-dups.
    */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 25 === 0)
        .select(
          (col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
  }

  /** The shingle-index CTE chain (toks → idx → sh → card) over an
    * arbitrary `corpus` CTE — parameterized so composed oracles (the
    * X44 pipeline) can dedup a DERIVED corpus (e.g. the gate-admitted
    * documents) with the exact same chain the standalone dedup
    * oracles state.
    */
  /** NOTE (r15): do NOT hand-mark these shared CTEs `AS MATERIALIZED`.
    * [[graft.OracleSql.materializeShared]] marks them per ORACLE, only
    * where actually multiply-referenced — a source-level mark applies
    * to every user, and DuckDB computes an unused/single-use
    * materialized CTE eagerly (measured: blanket marks made the
    * simhash oracle 7x slower at sf1-shape, 14.6 s -> 102 s, because
    * `card` is unused and `sh` single-use there).
    */
  private[graft] def corpusChainSqlOver(corpusCte: String): String =
    s"""$corpusCte,
       |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  private val corpusSql = corpusChainSqlOver(
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
      |  FROM documents WHERE doc_id % 25 = 0)""".stripMargin)

  /** Distinct word-3-gram shingles per doc — the inverted index every
    * dedup variant builds on. Narrow until the final distinct.
    *
    * Each row also CARRIES its doc's total shingle count `n` (one
    * window count over the distinct index, paid once in the cached
    * build): the Jaccard cut needs |A| and |B| per candidate pair, and
    * carrying them through the collision/verify joins — the same way
    * [[dedupSimhash]] carries its 8-byte sketch — replaces the r8
    * design's per-doc cardinality table, whose `broadcast()` hint was
    * one row per document: a hint Catalyst can never retract, i.e. a
    * guaranteed driver OOM at corpus scale.
    *
    * Measured dead end (r9), kept so it isn't re-tried: deduping
    * per-doc with `array_distinct` BEFORE the explode (plus `size()`
    * for `n`) makes the build shuffle-free on paper, but benched
    * 2–2.5× SLOWER end-to-end (3.1 s → 6.3–7.5 s for q_dedup_near at
    * sf0.1): project collapsing inlines the interpreted
    * transform+array_distinct HOF chain into BOTH the generator and
    * the `size()` projection, evaluating it twice per doc, and the
    * exploded rows then drag the whole shingle array through the
    * Generate. One doc_id exchange + window count is cheaper.
    */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(corpus(s, dir))

  /** The same index build over an arbitrary (doc_id, text) corpus
    * frame — the Spark-side counterpart of [[corpusChainSqlOver]],
    * for composed pipelines deduping a derived corpus.
    */
  private[graft] def shinglesOf(c: DataFrame): DataFrame =
    // OPTIMIZATION r21 (guide §2.4 — remove shuffles outright): the
    // r9-r20 shape shuffled the exploded stream TWICE — a (doc_id,
    // shingle) distinct exchange, then a doc_id window exchange + sort
    // for the cardinality. One doc_id-keyed collect_set aggregate does
    // both in ONE exchange and no sort: map-side partial sets dedup
    // before the shuffle (each doc's rows live in one input split, so
    // the partial set is already complete), the set size IS `n`, and
    // re-exploding the set restores the row-per-(doc, shingle) index.
    // Same rows, same n (a set has one row per distinct shingle; its
    // size is the window count); row ORDER differs, which no consumer
    // observes (everything downstream aggregates/joins, and every
    // declared query ends in a total-order sort). Per-doc set size is
    // bounded by document length — the same skew bound the window had.
    // (Fan-out of the explode was also tried and reverted: the
    // downstream exchange outweighed the concat spread at sf0.1.)
    c
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(word3grams(col("w"))).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("ss"))
      .select(col("doc_id"), explode(col("ss")).as("shingle"),
        size(col("ss")).cast("long").as("n"))

  /** The word 3-grams of the token array `w`, in order, duplicates
    * kept; empty when `w` has fewer than 3 tokens. The guard makes it
    * total: below 3 tokens `sequence(1, size(w) - 2)` counts down and
    * `element_at` reads past the end (an error under ANSI) or at index
    * 0 (always an error), and a lambda next to a generator can run on
    * rows an upstream size filter drops (InferFiltersFromGenerate).
    */
  private[graft] def word3grams(w: Column): Column =
    when(size(w) >= 3, transform(sequence(lit(1), size(w) - 2), i =>
      concat(element_at(w, i), lit(" "), element_at(w, i + 1), lit(" "), element_at(w, i + 2))))
      .otherwise(typedLit(Seq.empty[String]))

  /** The ≥0.6 exact-Jaccard test on integer counts: 10·|∩| ≥
    * 6·|∪| with |∪| = n_a + n_b − |∩|. No float in the cut, so no
    * rounding can flip a pair.
    */
  private[graft] def jaccard06(shared: Column, nA: Column, nB: Column): Column =
    shared * 10 >= (nA + nB - shared) * 6

  /** Attach each doc's total shingle count to every (doc_id, shingle)
    * row — one window count, no skew (per-doc group size is bounded by
    * document length). Kept separate so specs building synthetic
    * indexes reuse exactly the production cardinality derivation.
    */
  private[graft] def withDocCardinality(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sh.withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
  }

  /** The persisted shingle index every dedup variant reads — near
    * alone has five consumers, minhash three — memoized per (session,
    * dir) in [[SessionMemo]], so a bench pass over the whole family
    * runs the explode+distinct shuffle once instead of a dozen times.
    */
  private[graft] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, dir, "shingles")(shingles(s, dir))

  /** Apply [[jaccard06]] to (id_a, id_b, shared, n_a, n_b) rows.
    * Both cardinalities arrive ON the pair row — carried through the
    * upstream join by whoever built it (the shingle index rows carry
    * `n`, see [[shingles]]) — so the cut is a pure filter: no per-doc
    * table, no join, and in particular no broadcast whose size is
    * corpus-proportional (the r8 design's scale killer, now pinned
    * un-regressable by PlanAuditSpec).
    */
  private def jaccardCut(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("n_union", col("n_a") + col("n_b") - col("shared"))
      .filter(jaccard06(col("shared"), col("n_a"), col("n_b")))
      .select(
        col("id_a"), col("id_b"),
        col("shared").cast("long").as("shared"),
        col("n_union").cast("long").as("n_union"))
      // UNSORTED by design (r16): the declared queries add their own
      // total-order ORDER BY; a sort here poisons the pair-table
      // memos — materializing a cached plan cannot eliminate the
      // sort, and its range-partition exchange SAMPLES the child,
      // re-running the whole collision build once for the sampler
      // (measured: a 5 s raw build materialized in 30 s).

  /** Exact-Jaccard verification of an (id_a, id_b) candidate set: the
    * candidate list is small by construction (that is LSH's whole
    * point — its volume tracks true similarity, not corpus size), so
    * it broadcasts into both shingle joins — no shuffle of the index
    * itself beyond the per-pair count. The per-doc cardinalities ride
    * along as `min(n)` (constant per group) through the same
    * aggregation that counts shared shingles.
    */
  private[graft] def verifyJaccard(sh: DataFrame, cand: DataFrame): DataFrame =
    jaccardCut(
      broadcast(cand)
        .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("id_b") === col("sb.doc_id") && col("sb.shingle") === col("sa.shingle"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(
          count(lit(1)).as("shared"),
          min(col("sa.n")).as("n_a"),
          min(col("sb.n")).as("n_b")))

  private val verifySqlTail =
    """SELECT v.id_a, v.id_b, CAST(v.shared AS BIGINT) AS shared,
      |  CAST(ca.n + cb.n - v.shared AS BIGINT) AS n_union
      |FROM verified v
      |JOIN card ca ON ca.doc_id = v.id_a
      |JOIN card cb ON cb.doc_id = v.id_b
      |WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)
      |ORDER BY id_a, id_b""".stripMargin

  /** Posting-list cap for the inverted-index collision join: shingles
    * appearing in more than this many docs are routed to the
    * correction join instead of the pair-generating self-join. A
    * boilerplate shingle in k docs emits k(k−1)/2 collision rows, so
    * without the cap one viral 3-gram is quadratic in its own df —
    * the classic hot-key failure at corpus scale. With it, each
    * posting list emits ≤ df·(df−1)/2 ≤ ~2k rows.
    *
    * Exactness: shared-shingle counts stay exact for every candidate
    * pair (the df > cap shingles are added back by the correction
    * join in [[nearPairs]]); a qualifying pair is missed only if
    * EVERY shingle it shares is boilerplate (df > 64) — a ≥60 %-
    * Jaccard overlap made of nothing but corpus-wide stock phrases,
    * which is template spam (what a dedup pipeline wants to treat
    * separately), not document near-identity. On this corpus even
    * that is vacuous: measured max shingle df is 8 (sf0.01) / 26
    * (sf0.1), and DedupSpec's "df cap is exact" test pins
    * nearPairs(capped) ≡ nearPairs(uncapped) and asserts the max-df
    * headroom so corpus drift fails loudly.
    */
  private[graft] val nearMaxDf = 64

  /** Thrown by the df-saturation guard in `refuse` mode — see
    * [[dfGuarded]]. Carries the observed max df so operators can log
    * the regime, not just the refusal.
    */
  final class DfSaturationException(msg: String) extends RuntimeException(msg)

  /** X159 → family wiring (VERDICT r18 #1): the df-saturation GUARD.
    *
    * The df-capped collision joins (X5a near, X54 containment, X68
    * substring) are EXACT only while the corpus leaves the cap
    * headroom — a pair sharing ONLY above-cap shingles is invisible to
    * capped candidate generation (the correction join fixes COUNTS for
    * pairs already found, it cannot resurrect a pair never generated).
    * X159 `q_shingle_df` measures that regime; this guard ENFORCES it:
    * on a df-saturated corpus (observed max df > the cap) the declared
    * queries are loud, never silently degraded.
    *
    * Two modes via `spark.graft.dedup.dfGuard`:
    *  - `flag` (default): every output row carries a `df_saturated`
    *    boolean, and — so an EMPTY pair table cannot be silent — a
    *    sentinel row (id_a = id_b = −1, zero measures, flag true) is
    *    emitted when saturated. Both are plain relational algebra the
    *    DuckDB oracle states identically, so the contract is itself
    *    oracle-checked; on headroom-respecting corpora the flag is
    *    false everywhere and no sentinel appears. Chosen as the
    *    default because saturation is a CORPUS property, not a bug:
    *    the 10× rehearsal corpus is measured 99.7 % above-cap by
    *    postings and must keep running (with the flag raised), while
    *    a hard refuse there would fail the perf gate on an input the
    *    operator handles correctly-but-degraded by design.
    *  - `refuse`: query construction throws [[DfSaturationException]]
    *    with the observed max df — for pipelines where a possibly-
    *    incomplete pair table must never ship.
    *
    * The cap-free route (VERDICT r19 #3): on a saturated corpus the
    * right tool is X5b `q_dedup_minhash` — banded MinHash draws its
    * candidates from signature bands, never from posting lists, so it
    * has NO df-cap failure mode; the refuse message names it, and
    * DedupSpec proves LSH recovers the planted above-cap-only pairs
    * the capped family misses on the saturated fixture.
    *
    * Cost: one map-side-partial aggregate over the (cached) index per
    * declared query — a ≤|vocab|-row dictionary collapse to ONE row,
    * evaluated EAGERLY at query construction (the [[nearPairs]]
    * `highShingles.isEmpty` probe pattern: a 1-row bounded head, never
    * corpus-proportional) and attached as a LITERAL column. Eager-and-
    * literal rather than a 1-row cross join on purpose: the flag adds
    * zero joins, so the standing plan audits (no broadcast hints on
    * the near plan, equi-joins-only on containment) hold unchanged.
    * Nothing touches the memoized pair tables themselves, so
    * sweep/recall/CC consumers are unchanged.
    */
  private[graft] def dfSaturationFlag(dfs: DataFrame, cap: Long): DataFrame =
    dfs.agg(coalesce(max(col("df")), lit(0L)).cast("long").as("max_df"))
      .select(col("max_df"), (col("max_df") > cap).as("df_saturated"))

  /** Apply the guard to a (id_a, id_b, measures…) pair table: refuse
    * in `refuse` mode, else append the flag column + the sentinel row.
    * `sentinelMeasures` must alias one zero literal per measure column
    * (same names), so `unionByName` lines the sentinel up exactly.
    */
  private[graft] def dfGuarded(
      s: SparkSession,
      pairs: DataFrame,
      flag: DataFrame,
      query: String,
      cap: Long,
      sentinelMeasures: Seq[Column]): DataFrame = {
    val r = flag.head()
    dfGuarded(s, pairs, r.getLong(0), r.getBoolean(1), query, cap, sentinelMeasures)
  }

  /** Value-level overload (r20): callers that already paid the eager
    * max-df probe pass its answer straight in, so the guard adds no
    * second dictionary job.
    */
  private[graft] def dfGuarded(
      s: SparkSession,
      pairs: DataFrame,
      maxDf: Long,
      saturated: Boolean,
      query: String,
      cap: Long,
      sentinelMeasures: Seq[Column]): DataFrame = {
    if (saturated && s.conf.get("spark.graft.dedup.dfGuard", "flag") == "refuse")
      throw new DfSaturationException(
        s"$query: corpus is df-saturated (max shingle df $maxDf > cap $cap) — " +
          "capped candidate generation could miss pairs sharing only above-cap shingles. " +
          "Run q_shingle_df (X159) for the full df ladder; on a saturated corpus use " +
          "q_dedup_minhash (X5b) — banded MinHash has no df-cap failure mode (its " +
          "candidates come from signature bands, not posting lists; DedupSpec proves " +
          "it recovers the above-cap-only pairs the capped family misses). Set " +
          "spark.graft.dedup.dfGuard=flag for flagged (possibly incomplete) output.")
    val flagged = pairs.withColumn("df_saturated", lit(saturated))
    if (!saturated) flagged
    else flagged.unionByName(
      s.range(1).select(lit(-1L).as("id_a") +: lit(-1L).as("id_b") +:
        sentinelMeasures :+ lit(true).as("df_saturated"): _*))
  }

  /** The near-dup pipeline, parameterized by the posting-list cap so
    * DedupSpec can pin capped ≡ uncapped. One-pass shape (r6 verdict
    * task 1): `shared` is counted DIRECTLY off the capped collision
    * join — `groupBy(id_a, id_b).count` with map-side partial
    * aggregation — so there is no materialized candidate set, no
    * `distinct`, and nothing to broadcast (the r6 form broadcast a
    * ~quadratic 1.22 M-pair candidate list at sf0.1 — a driver OOM
    * at scale). High-df shingles re-enter through a correction join
    * that is linear in (candidate pairs × high-df postings per doc)
    * — and empty on this corpus — keeping counts exact.
    */
  private[graft] def nearPairs(sh: DataFrame, maxDf: Long,
      dfreqOpt: Option[DataFrame] = None): DataFrame =
    jaccardCut(collisionShared(sh, maxDf, sizeCompat = true, dfreqOpt))

  /** The capped-collision shared-shingle aggregate underlying both
    * the Jaccard cut (X5a) and the containment cut (X54). When
    * `sizeCompat` the AllPairs length filter prunes pairs that cannot
    * reach Jaccard ≥ 0.6; containment must NOT apply it — a 30-token
    * excerpt inside a 100-token doc is exactly the size-mismatched
    * pair that filter exists to drop.
    */
  private def collisionShared(sh: DataFrame, maxDf: Long, sizeCompat: Boolean,
      dfreqOpt: Option[DataFrame] = None,
      saturatedOpt: Option[Boolean] = None): DataFrame = {
    // OPTIMIZATION r20: callers that already hold this index's (cached)
    // df dictionary pass it in (dfreqOpt) so the cap filter and the
    // high-df probe read the memoized frame instead of re-collapsing
    // the 2M-row index; callers that already KNOW the saturation
    // verdict (the dfGuarded probe computes max df eagerly anyway)
    // pass saturatedOpt and the `highShingles.isEmpty` probe job is
    // skipped outright — max df ≤ cap ⟺ no high-df shingle exists,
    // so the two probes were always the same question asked twice.
    val dfreq = dfreqOpt.getOrElse(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
    val highShingles = dfreq.filter(col("df") > maxDf).select("shingle")
    val capped = sh.join(dfreq.filter(col("df") <= maxDf).select("shingle"), "shingle")
    // each index row carries its doc's cardinality `n`, so min(n) per
    // pair group IS the cardinality — no per-doc enrich join later.
    // The AllPairs length filter (Bayardo et al., WWW'07) rides the
    // same carried `n`: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair
    // can reach the ≥0.6 cut only if 10·min(n_a,n_b) ≥ 6·max — a pure
    // integer join predicate that drops size-incompatible pairs
    // BEFORE the pair aggregate ever sees them. Measured at sf0.1:
    // the collision stream (1.37 M rows into 1.22 M pair groups —
    // nearly every colliding pair is unique, which is also why a
    // PPJoin prefix filter would NOT pay here: its surviving
    // candidates still need a full-index verify join with ~10× this
    // intermediate volume) drops 35 % (1.37 M → 894 k rows, ~10 %
    // wall on q_dedup_near), output provably unchanged (DedupSpec's
    // capped≡uncapped pin runs both sides through the same filter,
    // and the planted near-dup pairs differ by one token — always
    // size-compatible). The win grows with length spread; on this
    // corpus lengths cluster, so the filter is a floor, not the
    // headline.
    val joinCond = {
      val base = col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
      if (sizeCompat)
        base && col("a.n") * 10 >= col("b.n") * 6 && col("b.n") * 10 >= col("a.n") * 6
      else base
    }
    val sharedKept = capped.as("a")
      .join(capped.as("b"), joinCond)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(
        count(lit(1)).as("shared_kept"),
        min(col("a.n")).as("n_a"),
        min(col("b.n")).as("n_b"))
    // Runtime short-circuit, same spirit as AQE's empty-relation
    // elimination: one cheap probe of the (cached) index decides
    // whether any shingle exceeds the cap at all. If none does — the
    // measured reality of this corpus, pinned by DedupSpec — the
    // correction term is identically zero and the two pair-keyed
    // correction shuffles are dropped from the plan entirely. The
    // exactness argument is unchanged: the probe decides between two
    // plans that provably compute the same result.
    val shared =
      if (saturatedOpt.fold(highShingles.isEmpty)(sat => !sat))
        sharedKept.select(
          col("id_a"), col("id_b"), col("shared_kept").as("shared"),
          col("n_a"), col("n_b"))
      else {
        val shHigh = sh.join(highShingles, "shingle")
        val corr = sharedKept.select(col("id_a"), col("id_b"))
          .join(shHigh.as("sa"), col("id_a") === col("sa.doc_id"))
          .join(shHigh.as("sb"),
            col("id_b") === col("sb.doc_id") && col("sb.shingle") === col("sa.shingle"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("extra"))
        sharedKept.join(corr, Seq("id_a", "id_b"), "left")
          .select(
            col("id_a"), col("id_b"),
            (col("shared_kept") + coalesce(col("extra"), lit(0L))).as("shared"),
            col("n_a"), col("n_b"))
      }
    shared
  }

  /** X5a — n-gram Jaccard near-dup: every pair colliding on a
    * non-boilerplate shingle (df ≤ [[nearMaxDf]]) qualifies, with
    * exact shared counts over the FULL shingle sets. The baseline the
    * sketch variants are judged by. Reads the shared cached
    * [[shingleIndex]] — it feeds the df count, both collision sides,
    * the correction join, and the cardinality table, and recomputing
    * that shuffle per consumer was the other half of the r6
    * regression.
    *
    * NOTE: construction is not purely lazy — [[nearPairs]] runs one
    * small Spark job (the `highShingles.isEmpty` probe) to pick the
    * cheaper of two provably-equivalent plans. Callers building the
    * query only to inspect its plan still pay that probe.
    */
  private def dedupNear(s: SparkSession, dir: String): DataFrame =
    dfGuarded(s, nearPairsIndexed(s, dir),
      dfSaturationFlag(shingleDfDict(s, dir), nearMaxDf), "q_dedup_near", nearMaxDf,
      Seq(lit(0L).as("shared"), lit(0L).as("n_union")))
      .orderBy("id_a", "id_b")

  /** Session-scoped memo of the VERIFIED ≥0.6-Jaccard pair table —
    * the [[shingleIndex]] discipline one level up: the truth table
    * feeds X5a itself, X117's sweep, and X150's recall denominator,
    * and a family pass (bench, the CC chain) was rebuilding the
    * collision join + correction once per consumer (r15 verdict: the
    * `q_lsh_recall` 2.5 s class; X117's sweep paid 8.3 s of it at
    * sf1-shape). Dup-volume-bounded, so the persist is tiny; this one
    * repays a 13 s collision build across three consumers (its MinHash
    * twin is [[minhashVerified]], which repays the iterative cluster
    * family).
    */
  private[graft] def nearPairsIndexed(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir) // hoisted: re-arms the upstream persist on memo hits
    val dfs = shingleDfDict(s, dir) // r20: cap filter + high-df probe read the cached dict
    SessionMemo(s, dir, "near_pairs")(nearPairs(sh, nearMaxDf, Some(dfs)))
  }

  /** The X5a chain through `verified` (corpus → capped collisions →
    * high-df correction) — factored so X117's sweep oracle states
    * the exact pair table the standalone near-dup oracle states.
    */
  private def nearChainSql: String =
    s"""$corpusSql,
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |capped AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq USING (shingle) WHERE df <= $nearMaxDf),
       |shared_kept AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_kept
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sh_high AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq USING (shingle) WHERE df > $nearMaxDf),
       |corr AS (
       |  SELECT k.id_a, k.id_b, count(*) AS extra
       |  FROM shared_kept k JOIN sh_high sa ON sa.doc_id = k.id_a
       |  JOIN sh_high sb ON sb.doc_id = k.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT k.id_a, k.id_b, k.shared_kept + COALESCE(c.extra, 0) AS shared
       |  FROM shared_kept k LEFT JOIN corr c ON c.id_a = k.id_a AND c.id_b = k.id_b)""".stripMargin

  /** Thresholds swept by X117 — all at or above the 0.6 floor where
    * the size-compatibility prefilter keeps the pair table COMPLETE
    * (below 0.6 the AllPairs prune has already dropped pairs by
    * design, so a lower sweep point would lie).
    */
  private[graft] val sweepCuts = Seq(60L, 65L, 70L, 75L, 80L, 90L)

  /** X117 — Jaccard-cut sensitivity sweep (`q_dedup_sweep`): the
    * tuning table a curator reads before moving X5a's 0.6 threshold:
    * for each candidate cut ≥ the floor, how many verified pairs and
    * how many distinct documents remain, plus `pair_retention` vs the
    * 0.6 baseline — whether a stricter cut trims noise or guts dup
    * coverage. Swept only ABOVE the [[nearPairs]] size-compat floor,
    * where the exactness-corrected pair table is provably complete
    * (see [[sweepCuts]]); the sweep is a pure re-cut of the SAME
    * verified pairs, so every row is exact, not an LSH recall curve.
    *
    * Integer end-to-end: the cut compare is 100·shared ≥ t·n_union,
    * pair counts are count div 2 over exploded endpoints, retention
    * rounds 4dp by HALF_UP integer division. Scale: the pair table is
    * dup-volume-bounded and memoized ([[shingleIndex]]); the sweep
    * fans it out ×ǀcutsǀ and collapses to ǀcutsǀ rows map-side.
    */
  private def dedupSweep(s: SparkSession, dir: String): DataFrame = {
    val kept = nearPairsIndexed(s, dir)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_union"),
        explode(array(sweepCuts.map(lit): _*)).as("t_pct"))
      .filter(col("shared") * 100 >= col("t_pct") * col("n_union"))
      .select(col("t_pct"), explode(array(col("id_a"), col("id_b"))).as("d"))
    // ǀcutsǀ rows, TWO consumers (baseline + final) — checkpoint or
    // the whole pair build runs twice (the q_pca_project lesson)
    val agg = kept.groupBy(col("t_pct"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
      .localCheckpoint()
    val base = agg.filter(col("t_pct") === sweepCuts.head)
      .select(col("n_pairs").as("np_base"))
    agg.crossJoin(broadcast(base))
      .select(col("t_pct"), col("n_pairs"), col("n_docs").cast("long").as("n_docs"),
        Extensions.share4("n_pairs", "np_base").as("pair_retention"))
      .orderBy("t_pct")
  }

  private def sweepSql: String = {
    val cuts = sweepCuts.mkString("[", ", ", "]")
    s"""WITH $nearChainSql,
       |vu AS (
       |  SELECT v.id_a, v.id_b, v.shared,
       |    ca.n + cb.n - v.shared AS n_union
       |  FROM verified v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |sweep AS (SELECT unnest($cuts) AS t_pct),
       |keptp AS (
       |  SELECT s.t_pct, unnest([vu.id_a, vu.id_b]) AS d
       |  FROM vu JOIN sweep s ON 100 * vu.shared >= s.t_pct * vu.n_union),
       |agg AS (
       |  SELECT t_pct, count(*) // 2 AS n_pairs, count(DISTINCT d) AS n_docs
       |  FROM keptp GROUP BY 1),
       |base AS (SELECT n_pairs AS np_base FROM agg WHERE t_pct = ${sweepCuts.head})
       |SELECT CAST(t_pct AS BIGINT) AS t_pct, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST((20000 * n_pairs + np_base) // (2 * np_base) AS BIGINT) / 10000.0
       |    AS pair_retention
       |FROM agg, base ORDER BY t_pct""".stripMargin
  }

  /** (bands, rows-per-band) configurations swept by X166 — every way
    * to band the shipped 8-slot MinHash signature. (4, 2) is the
    * production X5b choice; the sweep prices the alternatives.
    */
  private[graft] val lshTuneConfigs = Seq((8L, 1L), (4L, 2L), (2L, 4L), (1L, 8L))

  /** HALF_UP re-round of a product of two 4dp fixed-point values back
    * to 4dp — the X151 iterated-fixed-point discipline, as SQL text so
    * both engines state the identical integer chain.
    */
  private def lshR4(x: String, div: String): String =
    s"(2 * ($x) + 10000) $div 20000"

  /** x^e for e ∈ {1, 2, 4, 8} by repeated squaring with HALF_UP
    * re-rounding at each step (x a 4dp-scaled integer column/expr).
    * Textual recursion duplicates the sub-expression; it is a column
    * reference, so codegen CSE keeps the work linear.
    */
  private def lshPow4(x: String, e: Long, div: String): String =
    if (e == 1L) x
    else {
      val h = lshPow4(x, e / 2, div)
      lshR4(s"($h) * ($h)", div)
    }

  /** The per-pair catch probability 1 − (1 − s^r)^b in 4dp fixed
    * point, from the 4dp similarity column `s4`.
    */
  private def lshCatch4(b: Long, r: Long, div: String): String =
    s"(10000 - (${lshPow4(s"(10000 - (${lshPow4("s4", r, div)}))", b, div)}))"

  /** X166 — LSH band/row tuning table (`q_lsh_tune`): before moving
    * X5b's (4 bands × 2 rows) banding, the table a dedup owner reads —
    * for every way to band the 8-slot signature, the EXPECTED recall
    * over the verified ≥0.6-Jaccard truth pairs (X5a's pair table),
    * from the S-curve catch probability 1 − (1 − s^r)^b evaluated at
    * each pair's exact Jaccard. More rows per band sharpens the curve
    * (fewer false candidates) but drops recall on borderline pairs;
    * this prices that trade on the corpus's OWN similarity mass
    * instead of a rule of thumb. `pairs_safe` counts pairs with catch
    * probability ≥ ½ — the mass a single re-run of the band join is
    * unlikely to miss.
    *
    * Numerics: s4 = HALF_UP(10000·shared/n_union); powers by repeated
    * squaring with HALF_UP re-rounding at every step (the X151
    * iterated-fixed-point discipline) — pure integer arithmetic both
    * engines state identically, so the sketch-parameter table itself
    * is hash-certified. Scale: ONE pass over the memoized dup-bounded
    * pair table computes every config's partial sums map-side (no
    * explode of the pair stream, no join); the 4-row stack happens on
    * a 1-row aggregate.
    */
  private def lshTune(s: SparkSession, dir: String): DataFrame = {
    val s4 = nearPairsIndexed(s, dir)
      .select(expr(Extensions.sq4("shared", "n_union")).as("s4"))
    val aggCols = lshTuneConfigs.flatMap { case (b, r) =>
      val p = lshCatch4(b, r, "DIV")
      Seq(
        coalesce(sum(expr(p)), lit(0L)).as(s"sp_${b}_$r"),
        coalesce(sum(expr(s"CASE WHEN $p >= 5000 THEN 1 ELSE 0 END")), lit(0L))
          .as(s"sc_${b}_$r"))
    }
    val agg = s4.agg(count(lit(1)).as("n"), aggCols: _*)
    agg
      .select(col("n"), explode(array(lshTuneConfigs.map { case (b, r) =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col(s"sp_${b}_$r").as("sp"), col(s"sc_${b}_$r").as("sc"))
      }: _*)).as("c"))
      .select(
        col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"),
        col("n").cast("long").as("n_pairs"),
        (expr("CASE WHEN n = 0 THEN 0 ELSE CAST((2 * c.sp + n) DIV (2 * n) AS BIGINT) END")
          / lit(10000.0)).as("exp_recall"),
        col("c.sc").cast("long").as("pairs_safe"))
      .orderBy("bands")
  }

  private def lshTuneSql: String = {
    val perCfg = lshTuneConfigs.map { case (b, r) =>
      val p = lshCatch4(b, r, "//")
      s"""SELECT $b AS bands, $r AS rows_per_band, CAST(n AS BIGINT) AS n_pairs,
         |  CASE WHEN n = 0 THEN 0.0
         |    ELSE CAST((2 * sp_${b}_$r + n) // (2 * n) AS BIGINT) / 10000.0 END
         |    AS exp_recall,
         |  CAST(sc_${b}_$r AS BIGINT) AS pairs_safe
         |FROM agg""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY bands")
    val aggCols = lshTuneConfigs.map { case (b, r) =>
      val p = lshCatch4(b, r, "//")
      s"""COALESCE(sum($p), 0) AS sp_${b}_$r,
         |    COALESCE(sum(CASE WHEN $p >= 5000 THEN 1 ELSE 0 END), 0) AS sc_${b}_$r"""
        .stripMargin
    }.mkString(",\n    ")
    s"""WITH $nearChainSql,
       |vu AS (
       |  SELECT v.shared, ca.n + cb.n - v.shared AS n_union
       |  FROM verified v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |s4t AS (SELECT CAST((20000 * shared + n_union) // (2 * n_union) AS BIGINT) AS s4
       |  FROM vu),
       |agg AS (SELECT count(*) AS n,
       |    $aggCols
       |  FROM s4t)
       |$perCfg""".stripMargin
  }

  /** X170 — MinHash estimator calibration (`q_minhash_err`): the
    * companion audit to X166 — the sweep trusts the SIGNATURE, this
    * measures it. Per slot-match count m ∈ 0..8 (the complete-grid
    * X101 rule, absent buckets as zeros): how many verified truth
    * pairs land there, and the mean/max absolute error between the
    * 8-slot estimate ŝ = m/8 and the pair's exact Jaccard — the
    * estimator-variance table (Var ≈ s(1−s)/k for k slots) measured
    * on the corpus's own pairs instead of assumed. A fat high-error
    * bucket says the 8-slot signature is too short for this corpus's
    * similarity mass; X166's recall numbers inherit that noise.
    *
    * Numerics: ŝ4 = 1250·m exactly (8 divides 10⁴); s4 the X166
    * HALF_UP rational; errors exact integers, mean HALF_UP. Both
    * engines state the identical slot-hash chain (the X5b oracle
    * already certifies the signatures themselves). Scale: the
    * dup-bounded pair table joins the per-doc signature dictionary
    * twice by id (both sides AQE-broadcast-able), one ≤9-row
    * aggregate, a 9-row ladder left join — nothing corpus-quadratic.
    */
  private def minhashErr(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(shingleIndex(s, dir))
    val pairs = nearPairsIndexed(s, dir)
      .select(col("id_a"), col("id_b"),
        expr(Extensions.sq4("shared", "n_union")).as("s4"))
    val est = pairs
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("s4"),
        expr("CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)) AS BIGINT)")
          .as("m"))
      .select(col("m"), abs(col("m") * 1250 - col("s4")).as("err"))
    val agg = est.groupBy(col("m")).agg(
      count(lit(1)).as("n"), sum(col("err")).as("se"), max(col("err")).as("me"))
    s.range(2 * nBands + 1).select(col("id").as("m"))
      .join(agg, Seq("m"), "left")
      .select(
        col("m").cast("long").as("matches"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_pairs"),
        (expr("CASE WHEN COALESCE(n, 0) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST((2 * se + n) DIV (2 * n) AS BIGINT) END") / lit(10000.0))
          .as("mean_abs_err"),
        (coalesce(col("me"), lit(0L)).cast("long") / lit(10000.0)).as("max_abs_err"))
      .orderBy("matches")
  }

  private def minhashErrSql: String = {
    val mExpr = (0 until 2 * nBands)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $nearChainSql,
       |$sigCteSql,
       |vu AS (
       |  SELECT v.id_a, v.id_b,
       |    CAST((20000 * v.shared + ca.n + cb.n - v.shared)
       |         // (2 * (ca.n + cb.n - v.shared)) AS BIGINT) AS s4
       |  FROM verified v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |est AS (
       |  SELECT vu.s4, CAST($mExpr AS BIGINT) AS m
       |  FROM vu JOIN sig a ON a.doc_id = vu.id_a JOIN sig b ON b.doc_id = vu.id_b),
       |agg AS (
       |  SELECT m, count(*) AS n, sum(abs(1250 * m - s4)) AS se,
       |    max(abs(1250 * m - s4)) AS me
       |  FROM est GROUP BY 1),
       |ladder AS (SELECT unnest(generate_series(0, ${2 * nBands})) AS m)
       |SELECT CAST(l.m AS BIGINT) AS matches,
       |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_pairs,
       |  CASE WHEN COALESCE(a.n, 0) = 0 THEN 0.0
       |    ELSE CAST((2 * a.se + a.n) // (2 * a.n) AS BIGINT) / 10000.0 END
       |    AS mean_abs_err,
       |  CAST(COALESCE(a.me, 0) AS BIGINT) / 10000.0 AS max_abs_err
       |FROM ladder l LEFT JOIN agg a USING (m) ORDER BY matches""".stripMargin
  }

  /** Excerpt length for the X54 containment plant: long enough to
    * carry unambiguous shingle evidence, short enough that excerpt
    * Jaccard vs its source (≈ 28 / n_source) sits far below the 0.6
    * near-dup cut.
    */
  private val excerptTokens = 30

  /** X54 — CONTAINMENT scoring: C(A ⊂ B) = |S(A)∩S(B)| / min|S| over
    * the same capped collision index as X5a, cut at ≥ 0.9. Resemblance
    * (Jaccard) and containment are Broder's two distinct measures: a
    * 30-token excerpt quoted inside a 100-token doc has J ≈ 0.29 —
    * invisible to every near-dup variant — but containment 1.0. This
    * is the quote/subset detector a curation pipeline runs beside
    * near-dedup (a doc wholly contained in a longer one is redundant
    * even though Jaccard says "different"). The corpus is extended
    * with planted excerpts (first [[excerptTokens]] tokens of every
    * doc_id % 30 == 0 doc, id + 400000) so the contained-pair class is
    * non-vacuous and oracle-certified.
    *
    * Shape notes vs X5a: same df-capped inverted index, same exact
    * correction-join argument — but the AllPairs length filter MUST
    * be absent (the size-mismatched pairs it prunes are precisely the
    * contained ones), which is why [[collisionShared]] parameterizes
    * it. Collision volume without the length filter is bounded by the
    * same df cap; the cut then runs on the aggregated pair table.
    */
  /** The excerpt-extended shingle index behind X54 — its own memo tag
    * because the corpus differs from [[shingleIndex]]'s (the +400000
    * excerpt plants). Exposed so `graft.Bench` can warm it as an
    * explicit memo line (r17: q_containment was the last first-payer
    * query still absorbing a cache build in its own bench line).
    */
  private[graft] def containmentIndex(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val ext = corpus(s, dir).unionByName(
      base.filter(col("doc_id") % 30 === 0)
        .select(
          (col("doc_id") + 400000).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, excerptTokens), " ").as("text")))
    SessionMemo(s, dir, "containment_idx")(shinglesOf(ext))
  }

  /** X54's (shingle, df) dictionary over the excerpt-extended index,
    * memoized (r20): it used to be re-collapsed from the 2M-row index
    * THREE times per q_containment construction — once for the
    * df-saturation guard's eager probe, once for the high-df
    * `isEmpty` probe inside [[collisionShared]], once in-plan as the
    * cap filter. One cached dictionary now feeds all three (and the
    * probe answers the isEmpty question for free: max df ≤ cap ⟺ no
    * high-df shingle exists).
    */
  private[graft] def containmentDf(s: SparkSession, dir: String): DataFrame = {
    val sh = containmentIndex(s, dir) // hoisted: re-arms upstream persist
    SessionMemo(s, dir, "containment_df")(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
  }

  private def containment(s: SparkSession, dir: String): DataFrame = {
    val sh = containmentIndex(s, dir)
    val dfs = containmentDf(s, dir)
    val sat = dfSaturationFlag(dfs, nearMaxDf).head() // the ONE eager dictionary probe
    val pairs = collisionShared(sh, nearMaxDf, sizeCompat = false,
      Some(dfs), Some(sat.getBoolean(1)))
      .filter(col("shared") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .select(
        col("id_a"), col("id_b"),
        col("shared").cast("long").as("shared"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        round(col("shared") / least(col("n_a"), col("n_b")), 4).as("cont"))
    dfGuarded(s, pairs, sat.getLong(0), sat.getBoolean(1), "q_containment", nearMaxDf,
      Seq(lit(0L).as("shared"), lit(0L).as("n_a"), lit(0L).as("n_b"),
        lit(0.0).as("cont")))
      .orderBy("id_a", "id_b")
  }

  private val containSql = {
    val chain = corpusChainSqlOver(
      s"""corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000 AS doc_id,
         |         array_to_string((string_split(text, ' '))[1:$excerptTokens], ' ') AS text
         |  FROM documents WHERE doc_id % 30 = 0)""".stripMargin)
    s"""WITH $chain,
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |capped AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq USING (shingle) WHERE df <= $nearMaxDf),
       |shared_kept AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_kept
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sh_high AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq USING (shingle) WHERE df > $nearMaxDf),
       |corr AS (
       |  SELECT k.id_a, k.id_b, count(*) AS extra
       |  FROM shared_kept k JOIN sh_high sa ON sa.doc_id = k.id_a
       |  JOIN sh_high sb ON sb.doc_id = k.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT k.id_a, k.id_b, k.shared_kept + COALESCE(c.extra, 0) AS shared
       |  FROM shared_kept k LEFT JOIN corr c ON c.id_a = k.id_a AND c.id_b = k.id_b),
       |sat AS (SELECT COALESCE(max(df), 0) > $nearMaxDf AS df_saturated FROM dfreq)
       |SELECT v.id_a, v.id_b, CAST(v.shared AS BIGINT) AS shared,
       |  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
       |  round(v.shared / least(ca.n, cb.n), 4) AS cont, s.df_saturated
       |FROM verified v
       |JOIN card ca ON ca.doc_id = v.id_a
       |JOIN card cb ON cb.doc_id = v.id_b
       |CROSS JOIN sat s
       |WHERE 10 * v.shared >= 9 * least(ca.n, cb.n)
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), df_saturated
       |FROM sat WHERE df_saturated
       |ORDER BY id_a, id_b""".stripMargin
  }

  private[graft] val nBands = 4 // 8 minhashes, bands of 2

  import graft.functions.MinHashSketch.{mixA, mixB, mod => minhashMod}

  /** Base 32-bit shingle hash, pre-reduced mod 2³¹ so base·multiplier
    * stays inside signed-long range (ANSI mode overflow would throw;
    * DuckDB likewise).
    */
  private def minhashBase: Column = h32(col("shingle")) % 2147483648L

  /** Per-doc MinHash signature via the one-pass
    * [[graft.functions.MinHashSketch]] sketch aggregate (SURVEY §4
    * stretch): one 8-long buffer per doc with map-side partial
    * aggregation, instead of 8 separate `min()` columns — the
    * 100×-scale signature-build shape.
    */
  private[graft] def minhashSig(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(call_function("graft_minhash_sig", minhashBase).as("sig"))

  /** The declarative 8-column `min()` formulation of the same
    * signature — kept as the cross-check baseline for the sketch
    * aggregate (DedupSpec pins elementwise equality of the two).
    */
  private[graft] def minhashSigMinCols(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(array((0 until 2 * nBands).map(i =>
        min((minhashBase * mixA(i) + mixB(i)) % minhashMod)): _*).as("sig"))

  /** One (doc_id, band, k1, k2) row per signature band — the LSH
    * bucket keys. Shared by the self-join candidate build and the
    * incremental new-vs-index build (X53), which joins two DISJOINT
    * band streams instead of one against itself.
    */
  private[graft] def minhashBands(sh: DataFrame): DataFrame =
    minhashSig(sh).select(
      col("doc_id"),
      explode(array((0 until nBands).map(b =>
        struct(
          lit(b).as("band"),
          element_at(col("sig"), 2 * b + 1).as("k1"),
          element_at(col("sig"), 2 * b + 2).as("k2"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.k1").as("k1"), col("bk.k2").as("k2"))

  /** [[minhashBands]]' (band, k1, k2) keys of ONE row's shingle array,
    * as an array of structs to explode: an `array_min` over the row's
    * own shingles equals the sketch aggregate over the same set, so
    * the streaming feeds that see a whole document per row
    * (`Gateway.dedupFeed`, `Gateway.ingestFeed`) band exactly like the
    * batch index they probe.
    */
  private[graft] def minhashBandKeys(shingles: Column): Column = {
    def slot(i: Int): Column = array_min(transform(shingles, sh =>
      (h32(sh) % 2147483648L * mixA(i) + mixB(i)) % minhashMod))
    array((0 until nBands).map(b =>
      struct(lit(b).as("band"), slot(2 * b).as("k1"), slot(2 * b + 1).as("k2"))): _*)
  }

  /** The two static-index tables the STREAMING incremental dedup
    * ([[graft.streaming.Gateway.dedupFeed]]) joins each micro-batch
    * against — exactly what X53's batch form derives from the indexed
    * half (doc_id % 4 != 0): the band-bucket table and the per-doc
    * shingle-set + cardinality table. In production these are written
    * once, bucketed by band key / doc_id, and reused across batches;
    * here they ride the memoized [[shingleIndex]].
    */
  private[graft] def incrementalIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val shIdx = shingleIndex(s, dir).filter(col("doc_id") % 4 =!= 0)
    val bands = minhashBands(shIdx)
      .withColumnRenamed("doc_id", "idx_id")
    val sets = shIdx.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("idx_shingles"), min(col("n")).as("n_b"))
      .withColumnRenamed("doc_id", "idx_id")
    (bands, sets)
  }

  /** Banded-MinHash candidate pairs — shared by the Jaccard-verified
    * (X5b) and edit-distance-verified (X5d) variants.
    */
  private[graft] def minhashCands(sh: DataFrame): DataFrame = {
    val bands = minhashBands(sh)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** X5b — banded MinHash LSH: 8 min-hash signature slots, 4 bands of
    * 2; docs agreeing on any full band become candidates; candidates
    * are verified with exact Jaccard. The scale path for near-dedup —
    * candidate volume tracks true similarity, not N².
    */
  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashVerified(s, dir).orderBy("id_a", "id_b")

  /** Session-scoped memo of the MinHash-verified pair table (see
    * [[nearPairsIndexed]]): X5b's own output, X150's recall
    * numerator, and — the consumers that make this memo pay — the
    * ITERATIVE cluster family reading it as the CC edge list: the
    * X21 fixpoint and the X65 power iteration rescan the edges per
    * round, and without a cache boundary each rescan recomputes the
    * whole band-join + verify (measured at sf1-shape, r16:
    * `q_dup_pagerank` 1.2 s with the memo vs 8.9 s without,
    * `q_cluster_sizes` 2.7 s vs 7.1 s). The one-time cache
    * materialization (~the raw build cost) is paid by the first
    * consumer in a pass and amortized across the family.
    */
  private[graft] def minhashVerified(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir) // hoisted: re-arms the upstream persist on memo hits
    SessionMemo(s, dir, "minhash_pairs")(verifyJaccard(sh, minhashCands(sh)))
  }

  /** X53 — INCREMENTAL near-dedup: the production ingest shape, where
    * a new batch is deduplicated against an already-indexed corpus
    * instead of re-deduplicating everything. Incoming docs
    * (doc_id % 4 == 0 here — in production, the new crawl slice) band
    * their MinHash signatures exactly as X5b does, but the band join
    * runs new-vs-INDEX only: no incoming×incoming and no index×index
    * pairs are ever generated, so per-batch cost is proportional to
    * the BATCH (the index side is a prebuilt, reusable band table — at
    * 100 TB it is written once, bucketed by (band, k1, k2), and every
    * nightly batch joins against it co-located, touching no historic
    * text). Verification is the same broadcast-candidates exact
    * Jaccard as X5b, so DedupSpec can pin this query ≡ the X5b pair
    * set restricted to split-crossing pairs — the two formulations
    * provably agree on the shared universe.
    *
    * Output: (id_a = incoming, id_b = indexed) verified pairs — the
    * per-batch quarantine list.
    */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir)
    val newBands = minhashBands(sh.filter(col("doc_id") % 4 === 0))
    val idxBands = minhashBands(sh.filter(col("doc_id") % 4 =!= 0))
    val cands = newBands.as("a")
      .join(idxBands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(sh, cands).orderBy("id_a", "id_b")
  }

  private def incrementalSql: String =
    s"""WITH ${sigBandsSqlOver(corpusSql)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |  WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |$verifySqlTail""".stripMargin

  /** X5d — fuzzy dedup: the same LSH candidates, verified by edit
    * distance on a 100-char prefix instead of Jaccard (catches
    * reorder-insensitive false negatives the set measures can't, and
    * is the measure deduplication-by-near-identity pipelines quote).
    * Levenshtein is O(n·m) per pair — affordable exactly BECAUSE it
    * only ever runs on LSH candidates, never all pairs.
    */
  private def dedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    broadcast(minhashCands(shingleIndex(s, dir)))
      .join(c.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(c.as("tb"), col("id_b") === col("tb.doc_id"))
      .select(
        col("id_a"), col("id_b"),
        levenshtein(
          substring(col("ta.text"), 1, 100),
          substring(col("tb.text"), 1, 100)).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 25)
      .orderBy("id_a", "id_b")
  }

  // SimHash parameters (shared with the oracle SQL below). 60-bit
  // sketch (15 hex md5 chars — the widest prefix signed-BIGINT-safe in
  // both engines), 7 bands (4×9 + 3×8 bits), per-band multi-probe
  // radius 1, near-dup threshold Hamming ≤ 13.
  //
  // Why this config and not Manku's 4×16-bit/Hamming≤3: that guarantee
  // assumes long documents, where dropping one feature flips ~0 sketch
  // bits. This corpus is 10–100-token docs, where one dropped shingle
  // flips every majority bit whose margin is ≤1 — measured planted-pair
  // Hamming reaches 13 of 60 bits (histogram at sf0.1: p50=3, max=13).
  // The generalized pigeonhole does the work instead: H differing bits
  // over B bands leave some band with ≤ floor(H/B) of them, so probing
  // each band's Hamming-≤t neighbourhood guarantees exact recall for
  // H ≤ B·(t+1)−1 = 7·2−1 = 13 = the declared threshold.
  //
  // Band geometry (r7 verdict task 2): the previous 5×12-bit/radius-2
  // config met the same bound at 1+12+66 = 79 probes per band — 395
  // probe rows per doc. More-but-narrower bands put the multiplicity
  // in band COUNT (linear) instead of the probe BALL (quadratic in
  // radius): 7 radius-1 bands need only 1+width probes each, 67 rows
  // per doc — ~6× less probe traffic through the candidate join for
  // an identical exactness guarantee. Narrower keys do collide more
  // often per band (2^9 vs 2^12 key space), but the Hamming filter
  // runs BEFORE the distinct, so the extra false candidates cost one
  // xor+bit_count each, not a shuffle amplification.
  private val simBits = 60
  private val simHamMax = 13
  /** (bit offset, width) of each band: 4×9 + 3×8 = 60 bits, 7 bands. */
  private val simBandLayout: Seq[(Int, Int)] = {
    val widths = Seq(9, 9, 9, 9, 8, 8, 8)
    widths.scanLeft(0)(_ + _).zip(widths)
  }
  /** XOR masks enumerating the Hamming-≤1 ball of a w-bit band key. */
  private def simProbeMasks(width: Int): Seq[Long] =
    0L +: (0 until width).map(i => 1L << i)

  /** X5c — SimHash: 60-bit sketch (majority vote per bit over shingle
    * hashes), banded multi-probe candidates, Hamming ≤ 13 via
    * xor+bit_count. Integer end to end.
    *
    * Scale shape: probes explode each doc into 67 (band, key) rows —
    * tiny fixed-width rows, linear in N — and candidates come from an
    * equi-join of probed keys against exact keys, so candidate volume
    * tracks pairs genuinely close on some band, not N²/16 as the old
    * 4-bit nibble bands did. Order of operations still matters:
    * broadcast the sketch table into the candidate stream and filter
    * on Hamming BEFORE paying the distinct.
    */
  /** Per-doc 60-bit SimHash sketch table — memoized like the shingle
    * index: it is N rows × 16 bytes (trivial to cache) and feeds BOTH
    * sides of the candidate self-join, which would otherwise re-run
    * the majority-vote aggregate twice per query (measured: the
    * double sketch build, not the collision join, dominated the
    * query's cost). Built by the one-pass
    * [[graft.functions.SimHashSketch]] aggregate — one int[60]
    * counter buffer per doc with map-side partial merge, the same
    * 100 TB signature-build shape as the MinHash sketch — pinned
    * elementwise-identical to the declarative 60-column
    * [[simSketchSumCols]] form by DedupSpec.
    */
  private[graft] def simSketch(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir) // hoisted: re-arms the upstream persist on memo hits
    SessionMemo(s, dir, "simsketch") {
      import Hashing.h60
      sh.select(col("doc_id"), h60(col("shingle")).as("h"))
        .groupBy(col("doc_id"))
        .agg(call_function("graft_simhash_sketch", col("h")).as("sim"))
    }
  }

  /** The declarative 60-column `sum(when)` formulation of the same
    * sketch — kept as the cross-check baseline for the sketch
    * aggregate (DedupSpec pins equality of the two).
    */
  private[graft] def simSketchSumCols(sh: DataFrame): DataFrame = {
    import Hashing.h60
    val hs = sh.select(col("doc_id"), h60(col("shingle")).as("h"))
    val sumCols = (0 until simBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j"))
    hs.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
      .select(
        col("doc_id"),
        (0 until simBits)
          .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sim = simSketch(s, dir)
    def bandKey(off: Int, w: Int): Column =
      shiftright(col("sim"), off).bitwiseAND(lit((1L << w) - 1))
    // both join sides CARRY the 8-byte sketch: the Hamming test then
    // runs inline in the join's own codegen stage (one xor+bit_count
    // per collision row) instead of re-fetching sketches through two
    // broadcast joins over the multi-million-row candidate stream —
    // at 100 TB that also removes the "broadcast the whole sketch
    // table" requirement entirely
    val bands = sim.select(
      col("doc_id"), col("sim"),
      explode(array(simBandLayout.zipWithIndex.map { case ((off, w), b) =>
        struct(lit(b).as("band"), bandKey(off, w).as("k"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.k").as("k"))
    // one explode straight off the sketch: every (band, mask) pair is
    // a struct in a single 67-element array literal
    val probes = sim.select(
      col("doc_id"), col("sim"),
      explode(array((for {
        ((off, w), b) <- simBandLayout.zipWithIndex
        m <- simProbeMasks(w)
      } yield struct(
        lit(b).as("band"),
        bandKey(off, w).bitwiseXOR(lit(m)).as("pk"))): _*)).as("bp"))
      .select(col("doc_id"), col("sim"), col("bp.band").as("band"), col("bp.pk").as("pk"))
    probes.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.pk") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= simHamMax)
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long").as("hamming"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Sign-LSH planes for embedding dedup, parameterized by plane
    * count: n planes → 2ⁿ buckets, within-bucket candidate volume
    * Θ(N²/2ⁿ). The plane count is therefore a SCALE KNOB, not part of
    * the design — hold per-bucket pair volume constant by growing it
    * ~log₂ with corpus size (12 planes / 4096 buckets suits the test
    * corpora; a 10⁹-doc corpus wants ~30). Axis dims are spaced 5
    * apart starting at 1, so dim 2 (the synthetically perturbed
    * element) is never a plane and the planted pairs provably share a
    * bucket — though the ×1.5 positive scaling could never flip a
    * sign anyway. Past the 13 planes a 64-dim embedding can feed this
    * way, the scale path is random hyperplanes, not more axes.
    */
  private[graft] def embedPlanesFor(n: Int): Seq[(Int, Int)] = {
    require(1 <= n && n <= 13, s"plane count $n needs axis dims beyond 64-dim embeddings")
    (0 until n).map(i => (1 + 5 * i, 1 << i))
  }

  /** Default plane count; DedupSpec pins defaults ≡ declared output. */
  private[graft] val embedPlaneCount = 12

  private val embedPlanes: Seq[(Int, Int)] = embedPlanesFor(embedPlaneCount)

  /** X6 — embedding near-dup: sign-LSH on 12 fixed coordinates (4096
    * buckets) with Hamming-1 multi-probe, cosine ≥ 0.8 within probed
    * pairs only. The planted copies (element 2 ×1.5, every 20th
    * vector) keep identical sign buckets, so recall on them is exact
    * by construction; the probe widens recall to genuine near-dups
    * that straddle one plane. All math in double on both engines;
    * threshold applied pre-rounding.
    *
    * Scale shape: 13 probe rows per vector (identity + 12 one-bit
    * flips), all candidates from a bucket equi-join — within-bucket
    * pair volume is Θ(N²/4096) instead of the old 6-plane Θ(N²/64),
    * and the probe join stays linear in N. Each qualifying pair
    * matches exactly one probe mask, so no distinct is needed.
    * Embeddings are fetched for candidates only (broadcast of the
    * small candidate list), never carried through the probe explode.
    */
  /** X6's planted dedup corpus: every vector, plus a near-dup copy of
    * every 20th (element 2 scaled ×1.5, id shifted +100000) — the
    * dedup-family planted-truth pattern over embeddings, shared by
    * the sign-LSH path ([[dedupEmbed]]) and the within-cell SemDeDup
    * path ([[semDedup]]) so both detectors face the same truth set.
    */
  private[graft] def plantedVecs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
    val pert = Tables(s, dir, "embeddings")
      .filter(col("vec_id") % 20 === 0)
      .select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 1, x.cast("double") * 1.5).otherwise(x.cast("double"))).as("emb"))
    base.unionByName(pert)
  }

  private[graft] def dedupEmbed(
      s: SparkSession, dir: String,
      planes: Seq[(Int, Int)] = embedPlanes): DataFrame = {
    val vecs = plantedVecs(s, dir)
      .withColumn("bucket",
        planes
          .map { case (d, w) => when(element_at(col("emb"), d) > 0, lit(w)).otherwise(lit(0)) }
          .reduce(_ + _))
    val buckets = vecs.select(col("vec_id"), col("bucket"))
    val probes = buckets.select(
      col("vec_id"),
      explode(array((0 +: planes.map(_._2))
        .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("pb"))
    val cand = probes.as("a")
      .join(buckets.as("b"),
        col("a.pb") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    broadcast(cand)
      .join(vecs.as("va"), col("id_a") === col("va.vec_id"))
      .join(vecs.as("vb"), col("id_b") === col("vb.vec_id"))
      .select(
        col("id_a"), col("id_b"),
        VectorOps.cosine(col("va.emb"), col("vb.emb")).as("score"))
      .filter(col("score") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("score"), 4).as("score"))
      .orderBy("id_a", "id_b")
  }

  /** X36 — SemDeDup: embedding near-dup pairs WITHIN k-means cells
    * (Abbas et al. 2023) — the semantic-dedup shape real curation
    * pipelines run at scale: coarse-quantize every vector to its
    * nearest centroid (the X32 round-4 argmin, engine-portable), then
    * compare pairs ONLY inside each cell. Complements X6: sign-LSH
    * candidates are collision-driven (recall from multi-probe), cell
    * candidates are partition-driven (recall = the within-cell
    * fraction of true pairs — a pair whose endpoints quantize to
    * different cells is the structural SemDeDup miss). On this corpus
    * every corpus-side planted pair lands within-cell (DedupSpec pins
    * the pair set ≡ the driver-recomputed same-cell slice of the
    * planted truth); the 24-vs-25 delta against X6 is corpus
    * definition, not recall — the reserved query vector (vec_id 0) is
    * excluded here, so its planted copy has no partner.
    *
    * Scale shape (100 TB): ONE corpus shuffle by cell co-partitions
    * both join sides (canonically equal subtrees ⇒ the exchange is
    * reused, the Packing invariant), and the pairwise work runs
    * locally per cell — Θ(N²/K) candidates, with K the operator knob
    * real deployments grow with the corpus (tens of thousands of
    * cells; K=8 here is the test-corpus setting of the same config
    * the X32 centroids already are). Per-cell volume is the
    * textbook SemDeDup cost, not an accident of the plan.
    */
  private[graft] def semDedup(
      s: SparkSession, dir: String, k: Int = Clustering.centroidK): DataFrame = {
    // k is the SCALE KNOB (cells per corpus): the declared query uses
    // the full fixed-centroid set; DedupSpec pins a coarser k against
    // an independent driver recount, like the embedPlaneCount knob
    val cents = Clustering.centroids(s, dir).take(k)
      .map { case (cid, v) => cid -> v.map(_.toDouble) }
    val vecs = plantedVecs(s, dir)
      .filter(col("vec_id") =!= 0) // the reserved query vector is not corpus
      .select(col("vec_id"), col("emb").as("embedding"))
      .withColumn("cell", Clustering.bestCentroidOf(cents).getField("cid").cast("long"))
    val a = vecs.select(col("vec_id").as("id_a"), col("cell"), col("embedding").as("ea"))
    val b = vecs.select(col("vec_id").as("id_b"), col("cell"), col("embedding").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"), col("cell"),
        VectorOps.cosine(col("ea"), col("eb")).as("score"))
      .filter(col("score") >= 0.8)
      .select(col("id_a"), col("id_b"), col("cell"), round(col("score"), 4).as("score"))
      .orderBy("id_a", "id_b")
  }

  private def semDedupSql: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |all_vecs AS (
       |  SELECT vec_id AS id, vec_id AS src, FALSE AS pert FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000 AS id, vec_id AS src, TRUE AS pert FROM base WHERE vec_id % 20 = 0),
       |elems AS (
       |  SELECT id, i, CASE WHEN pert AND i = 2 THEN x * 1.5 ELSE x END AS x
       |  FROM (
       |    SELECT a.id, a.pert,
       |      unnest(generate_series(1, len(b.embedding))) AS i,
       |      unnest(list_transform(b.embedding, v -> CAST(v AS DOUBLE))) AS x
       |    FROM all_vecs a JOIN base b ON b.vec_id = a.src)),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |      WHERE vec_id BETWEEN 1 AND ${Clustering.centroidK}),
       |cd AS (
       |  SELECT e.id, c.cid,
       |    round(sum((e.x - CAST(c.ce[e.i] AS DOUBLE)) * (e.x - CAST(c.ce[e.i] AS DOUBLE))), 4) AS d2
       |  FROM elems e, c GROUP BY e.id, c.cid),
       |r AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM cd),
       |a AS (SELECT id, CAST(cid AS BIGINT) AS cell FROM r WHERE rn = 1 AND id <> 0),
       |pairs AS (
       |  SELECT x.id AS id_a, y.id AS id_b, x.cell
       |  FROM a x JOIN a y ON x.cell = y.cell AND x.id < y.id),
       |scored AS (
       |  SELECT p.id_a, p.id_b, p.cell,
       |    sum(ea.x * eb.x) / (sqrt(sum(ea.x * ea.x)) * sqrt(sum(eb.x * eb.x))) AS score
       |  FROM pairs p JOIN elems ea ON ea.id = p.id_a
       |  JOIN elems eb ON eb.id = p.id_b AND eb.i = ea.i
       |  GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, cell, round(score, 4) + 0 AS score FROM scored
       |WHERE score >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** The dedup corpus's id column alone (documents ∪ planted copies)
    * — the probe side of [[Clustering]]'s X26 survivorship verdict.
    */
  private[graft] def corpusIds(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).select(col("doc_id"))

  /** Verified near-dup pairs from the MinHash path, as a bare
    * (id_a, id_b) edge list — the input contract for
    * [[Clustering.connectedComponents]] (X21). Same pipeline as
    * `q_dedup_minhash`, minus the presentation columns.
    */
  private[graft] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashVerified(s, dir).select(col("id_a"), col("id_b"))

  /** The same verified-pair build over an arbitrary shingle index —
    * for composed pipelines deduping a derived corpus (pair with
    * [[shinglesOf]]).
    */
  private[graft] def minhashPairsOf(sh: DataFrame): DataFrame =
    verifyJaccard(sh, minhashCands(sh)).select(col("id_a"), col("id_b"))

  /** Shared CTE chain: corpus → shingles → signatures → bands → cand. */
  private[graft] def minhashCandSql: String = minhashCandSqlOver(corpusSql)

  /** The candidate chain over an arbitrary shingle chain (a
    * [[corpusChainSqlOver]] instantiation) — parameterized for
    * composed oracles.
    */
  /** The signature + band-key CTEs alone (through `bands`) — shared
    * by the self-join candidate chain and X53's directional one.
    */
  /** The per-doc signature CTE alone (references `sh` from whatever
    * chain precedes it) — factored so X170's estimator audit can state
    * signatures without re-including the corpus chain.
    */
  private def sigCteSql: String = {
    val hashes = (0 until 2 * nBands)
      .map(i => s"min(((('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483648) * ${mixA(i)} + ${mixB(i)}) % 2147483647) AS h$i")
      .mkString(", ")
    s"sig AS (SELECT doc_id, $hashes FROM sh GROUP BY doc_id)"
  }

  private def sigBandsSqlOver(shingleChainSql: String): String = {
    val bands = (0 until nBands)
      .map(b => s"SELECT doc_id, $b AS band, h${2 * b} AS k1, h${2 * b + 1} AS k2 FROM sig")
      .mkString(" UNION ALL ")
    s"""$shingleChainSql,
       |$sigCteSql,
       |bands AS ($bands)""".stripMargin
  }

  private[graft] def minhashCandSqlOver(shingleChainSql: String): String =
    s"""${sigBandsSqlOver(shingleChainSql)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id)""".stripMargin

  private def minhashSql: String =
    s"""WITH $minhashCandSql,
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |$verifySqlTail""".stripMargin

  private def fuzzySql: String =
    s"""WITH $minhashCandSql
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(substr(ta.text, 1, 100), substr(tb.text, 1, 100)) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN corpus ta ON ta.doc_id = c.id_a
       |JOIN corpus tb ON tb.doc_id = c.id_b
       |WHERE levenshtein(substr(ta.text, 1, 100), substr(tb.text, 1, 100)) <= 25
       |ORDER BY id_a, id_b""".stripMargin

  private def simhashSql: String = {
    val bits = (0 until simBits)
      .map(j => s"(CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (1::BIGINT << $j) ELSE 0 END)")
      .mkString(" + ")
    val bands = simBandLayout.zipWithIndex
      .map { case ((off, w), b) =>
        s"SELECT doc_id, $b AS band, (sim >> $off) & ${(1L << w) - 1} AS k FROM simh" }
      .mkString(" UNION ALL ")
    val maskRows = (for {
      ((_, w), b) <- simBandLayout.zipWithIndex
      m <- simProbeMasks(w)
    } yield s"($b, $m)").mkString(", ")
    // Same candidate semantics as the Spark side, stated the same way:
    // enumerate each band's Hamming-≤1 probe masks (band-width-
    // dependent, hence the (band, mask) VALUES table instead of a
    // cross join) and EQUI-join probed keys against exact keys. The
    // earlier band-keyed theta-join (bit_count(xor) inside the ON)
    // was O(N²) per band — fine at sf0.1, a verify-timeout risk at
    // sf1; this form is the linear probe-explode shape in both
    // engines. Opted OUT of the shared-CTE materializer: measured at
    // sf1-shape, the fully-inlined tree is 14.6 s while ANY
    // materialization combination lands 70–287 s (DuckDB loses the
    // statistics that pick the probe-join order) — see
    // [[graft.OracleSql.inlineMarker]].
    s"""${graft.OracleSql.inlineMarker}
       |WITH $corpusSql,
       |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
       |simh AS (SELECT doc_id, $bits AS sim FROM hs GROUP BY doc_id),
       |bands AS ($bands),
       |masks AS (SELECT * FROM (VALUES $maskRows) AS t(band, m)),
       |probes AS (SELECT b.doc_id, b.band, xor(b.k, t.m) AS pk FROM bands b JOIN masks t ON t.band = b.band),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM probes a JOIN bands b
       |           ON a.band = b.band AND a.pk = b.k AND a.doc_id < b.doc_id),
       |ham AS (SELECT c.id_a, c.id_b, bit_count(xor(sa.sim, sb.sim)) AS hamming
       |        FROM cand c JOIN simh sa ON sa.doc_id = c.id_a JOIN simh sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM ham
       |WHERE hamming <= $simHamMax ORDER BY id_a, id_b""".stripMargin
  }

  /** X28 — chunk-level (paragraph) exact dedup, the C4/RefinedWeb
    * line-dedup step at sub-document granularity: a document that
    * shares boilerplate with an earlier document keeps its unique
    * chunks and sheds the repeated ones. "Paragraph" on this
    * newline-free synthetic corpus = each non-overlapping
    * [[chunkTokens]]-token window (full windows only — a ragged tail
    * is not a paragraph); keep-first = the chunk's lowest doc_id
    * wins, every later occurrence is flagged dropped.
    *
    * The corpus's own near-dup docs already share runs of chunks
    * (the dedup-family planted pairs), and on top of that a
    * boilerplate signal is planted the dedup-family way: every 7th
    * doc is prefixed with a fixed 12-token boilerplate sentence in
    * BOTH engines. Prepending exactly one chunk WIDTH keeps every
    * original chunk boundary aligned, so the plant adds exactly one
    * shared chunk without disturbing a doc's own chunk hashes —
    * DedupSpec pins that differentially (plant on vs off).
    *
    * Scale shape: narrow explode → one hash aggregate for the
    * keeper map (min doc_id, map-side partials) → equi-join of the
    * chunk stream back to the keeper map on the chunk hash → per-doc
    * aggregate. Real boilerplate IS a hot key (the planted chunk's
    * df is N/7 here, much worse in a real crawl): the keeper side of
    * that join has exactly ONE row per key, so AQE's skew-join split
    * handles the streak — the same reason this is a join and not a
    * window over the chunk hash (AQE cannot split a skewed window
    * partition; the TF-IDF scaladoc states the rule).
    */
  private[graft] val chunkTokens = 12

  private val chunkBoilerplate =
    "this content is mirrored from the upstream boilerplate navigation footer menu text"

  private[graft] def dedupChunks(s: SparkSession, dir: String, plant: Boolean = true): DataFrame = {
    val planted = Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        when(lit(plant) && col("doc_id") % 7 === 0,
          concat(lit(chunkBoilerplate + " "), col("text")))
          .otherwise(col("text")).as("text"))
    val chunks = planted
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= chunkTokens)
      .select(
        col("doc_id"),
        explode(transform(
          sequence(lit(0), (size(col("toks")) / chunkTokens).cast("int") - 1),
          i => md5(array_join(slice(col("toks"), i * chunkTokens + 1, lit(chunkTokens)), " "))))
          .as("h"))
    val keeper = chunks.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    chunks.join(keeper, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keeper") < col("doc_id"), 1L).otherwise(0L)).cast("long").as("n_dup"))
      .orderBy("doc_id")
  }

  /** A chunk is boilerplate when it occurs in MORE DISTINCT DOCS than
    * this — high enough that organic near-dup pairs (df 2–3 on this
    * corpus) never qualify, low enough that the planted footer
    * (df ≈ |docs|/7) always does.
    */
  private[graft] val boilerplateDf = 4L

  /** Hard cap on the hot-chunk set the driver will literalize; the
    * build fails loudly rather than planning an unbounded literal.
    * True boilerplate is small by nature (it is the text REPEATED
    * VERBATIM across a corpus — menus, footers, license headers), so
    * a cap this size is head-room, not a tuning knob.
    */
  private[graft] val boilerplateMax = 4096

  /** X52 — frequent-chunk boilerplate REMOVAL (the C4/CCNet/
    * RefinedWeb "discard any line shared by ≥ N pages" cleaning step,
    * stated over this corpus's [[chunkTokens]]-token windows since
    * its documents are single-line). Two phases:
    *
    *  1. df pass — ONE chunk-hash-keyed aggregate (map-side partials
    *     absorb the hot chunks) finds hashes in > [[boilerplateDf]]
    *     distinct docs. That hot set is bounded by true boilerplate
    *     cardinality (guarded by [[boilerplateMax]]) and is
    *     LITERALIZED into the plan, the X32 literal-centroid
    *     precedent — so phase 2 needs no join at all.
    *  2. strip pass — per-row: rebuild each doc's chunk array, drop
    *     members of the literal hot set, reassemble in chunk order.
    *     The corpus text NEVER shuffles — the only exchange in the
    *     whole query moves 16-byte chunk hashes; reassembly is an
    *     in-row `filter`/`array_join`, not a regroup of exploded
    *     chunks (the naive explode → anti-join → groupBy(doc) form
    *     re-shuffles the full corpus text on doc_id).
    *
    * Output per doc: window count, dropped count, and the md5 of the
    * reassembled kept stream (`clean_sig`) so the oracle certifies
    * ORDER-PRESERVING reassembly, not just counts. The ragged tail
    * (< [[chunkTokens]] tokens) is outside every window and therefore
    * never dropped; docs shorter than one window are excluded, as in
    * X28.
    */
  /** X52 factored for the composed pipeline: replace `text` with the
    * boilerplate-stripped rebuild (kept windows + the ragged tail,
    * which [[chunkTokens]]-windowing can never drop), carrying every
    * other input column through plus `bp_dropped` (windows removed; 0
    * for docs shorter than one window). Phase 1 (the df pass + hot-set
    * literalization) runs EAGERLY over the input at plan-build time —
    * callers hand in a materialized frame (the pipeline's checkpointed
    * normalize output) so that pass reads blocks, not parquet, and the
    * one-scan pin survives. Phase 2 is the same narrow per-row
    * filter/reassemble as the declared query — corpus text never
    * shuffles.
    */
  private[graft] def boilerplateCleanFrom(norm: DataFrame): DataFrame =
    stripWithHot(norm, boilerplateHotSet(norm))

  private def chunkArrOf(toks: Column): Column = transform(
    sequence(lit(0), (size(toks) / chunkTokens).cast("int") - 1),
    i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " "))

  /** Phase 1 of the X52 factored form: the corpus-frequent chunk
    * hashes, EAGERLY collected and bounded by [[boilerplateMax]]. The
    * artifact a deployment refreshes offline and ships to its
    * ingest tier — [[graft.streaming.Gateway.admitFeed]] takes it as
    * a parameter, the batch pipeline literalizes it in place.
    */
  private[graft] def boilerplateHotSet(norm: DataFrame): Seq[String] = {
    val hot = norm
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= chunkTokens)
      .select(col("doc_id"), explode(chunkArrOf(col("toks"))).as("chunk"))
      .groupBy(md5(col("chunk")).as("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > boilerplateDf)
      .select("h")
      .limit(boilerplateMax + 1)
      .collect().map(_.getString(0))
    require(hot.length <= boilerplateMax,
      s"hot-chunk set exceeds $boilerplateMax — corpus is template spam, not boilerplate-strippable")
    hot.sorted.toSeq
  }

  /** Phase 2 of the X52 factored form: the narrow per-row strip
    * against a literal hot set — identical in batch and on a stream
    * (stateless projection, no join, no state).
    */
  private[graft] def stripWithHot(df: DataFrame, hot: Seq[String]): DataFrame = {
    val ct = chunkTokens
    val hotLit = typedLit(hot)
    val toks = col("__bp_toks")
    val kept = filter(chunkArrOf(toks), c => !array_contains(hotLit, md5(c)))
    // tail tokens append as-is: array_join flattens the mixed
    // chunk-string/token granularity back to one space-joined text
    // (nw via cast-truncated division — bare `/` on Columns is DOUBLE)
    val nw = (size(toks) / ct).cast("int")
    val tail = slice(toks, nw * ct + 1, size(toks) - nw * ct)
    df
      .withColumn("__bp_toks", split(col("text"), " "))
      .withColumn("bp_dropped",
        when(size(toks) < ct, lit(0L))
          .otherwise((size(chunkArrOf(toks)) - size(kept)).cast("long")))
      .withColumn("text",
        when(size(toks) < ct, col("text"))
          .otherwise(array_join(concat(kept, tail), " ")))
      .drop("__bp_toks")
  }

  private def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val ct = chunkTokens
    val chunked = Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit(chunkBoilerplate + " "), col("text")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= ct)
      .select(
        col("doc_id"),
        transform(
          sequence(lit(0), (size(col("toks")) / ct).cast("int") - 1),
          i => array_join(slice(col("toks"), i * ct + 1, lit(ct)), " ")).as("chunks"))
    val hot = chunked
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .groupBy(md5(col("chunk")).as("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > boilerplateDf)
      .select("h")
      .limit(boilerplateMax + 1)
      .collect().map(_.getString(0))
    require(hot.length <= boilerplateMax,
      s"hot-chunk set exceeds $boilerplateMax — corpus is template spam, not boilerplate-strippable")
    val hotLit = typedLit(hot.sorted.toSeq)
    chunked
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        filter(col("chunks"), c => !array_contains(hotLit, md5(c))).as("kept"))
      .select(
        col("doc_id"),
        col("n_chunks"),
        (col("n_chunks") - size(col("kept"))).cast("long").as("n_dropped"),
        md5(array_join(col("kept"), " ")).as("clean_sig"))
      .orderBy("doc_id")
  }

  private val boilerplateSql = {
    val ct = chunkTokens
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN '$chunkBoilerplate ' || text ELSE text END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d WHERE len(string_split(text, ' ')) >= $ct),
       |c AS (
       |  SELECT doc_id, i, array_to_string(toks[(i*$ct+1):(i*$ct+$ct)], ' ') AS chunk
       |  FROM t, LATERAL unnest(range(len(toks) // $ct)) AS u(i)),
       |hot AS (SELECT md5(chunk) AS h FROM c GROUP BY md5(chunk) HAVING count(DISTINCT doc_id) > $boilerplateDf),
       |kept AS (SELECT doc_id, i, chunk FROM c WHERE md5(chunk) NOT IN (SELECT h FROM hot)),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         md5(string_agg(chunk, ' ' ORDER BY i)) AS clean_sig
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id AS doc_id,
       |  CAST(len(toks) // $ct AS BIGINT) AS n_chunks,
       |  CAST(len(toks) // $ct - coalesce(agg.n_kept, 0) AS BIGINT) AS n_dropped,
       |  coalesce(agg.clean_sig, md5('')) AS clean_sig
       |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** X55 — LONGEST SHARED CHUNK RUN per doc pair: the chunk-granular
    * reading of "deduplicating long substrings" (Lee et al., ACL'22 —
    * their suffix-array pass removes verbatim spans; at corpus scale
    * the chunk-run approximation is what a distributed engine can
    * state relationally). A pair sharing ONE window is a phrase echo;
    * a pair sharing a RUN of consecutive windows is a copied span —
    * this query measures the spans that exact/near dedup's set
    * measures deliberately ignore.
    *
    * Relational shape: collision join on the chunk hash (df-capped at
    * [[boilerplateDf]] — chunks hotter than that are boilerplate,
    * X52's business, and would quadratically explode the join on
    * exactly the chunk class that carries no copy evidence), then
    * classic gaps-and-islands per (pair, diagonal): aligned positions
    * i_a − i_b share a diagonal, consecutive i_a minus row_number is
    * constant within an island, one count per island, max per pair.
    * The islands window is keyed by (id_a, id_b, d) — pair-bounded
    * partitions (≤ windows-per-doc rows each), never corpus-keyed.
    * Cut at max_run ≥ 2 (≥ 2·[[chunkTokens]] verbatim tokens).
    */
  /** CDC geometry for X66: boundary AFTER token i when the 32-bit
    * hash of the trailing `cdcWindow`-token window is ≡ 0 mod
    * `cdcDivisor` — expected chunk length = cdcDivisor tokens. The
    * rolling-window-hash boundary rule of LBFS/rsync-style content-
    * defined chunking (Muthitacharoen et al., SOSP 2001), in the
    * h32 house hash so both engines agree bit-for-bit.
    */
  private[graft] val cdcWindow = graft.functions.CdcChunks.window
  private[graft] val cdcDivisor = graft.functions.CdcChunks.divisor

  /** The per-doc CDC chunk stream: (doc_id, h) with h = md5 of each
    * chunk's token text. ENTIRELY NARROW — the whole boundary-detect +
    * chunk-extract loop runs in the native
    * [[graft.functions.CdcChunks]] expression (one static call per
    * row inside the WholeStageCodegen span; no per-doc window, no
    * explode until the finished chunk), which is CDC's 100 TB
    * property: chunking parallelizes embarrassingly and the ONLY
    * shuffle in the whole operator is the final group-by-hash. The
    * declarative twin below exists so DedupSpec can pin the native
    * loop against the HOF composition it replaced (the HOF form is
    * semantically identical but pays interpreted per-element
    * evaluation — 15.8 s vs 0.6 s at sf0.1).
    */
  private[graft] def cdcChunkStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function("graft_cdc_chunks", split(col("text"), " "))).as("h"))

  /** The declarative HOF form of the same chunk rule — DedupSpec pins
    * native ≡ declarative; not used by any declared query (the
    * nested HOF lambdas evaluate interpreted, the 40× tax the native
    * expression exists to remove).
    */
  private[graft] def cdcChunkStreamDeclarative(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val bpos = when(n >= cdcWindow,
      filter(sequence(lit(cdcWindow), n),
        i => Hashing.h32(array_join(slice(toks, i - (cdcWindow - 1), lit(cdcWindow)), " "))
          % cdcDivisor === 0))
      .otherwise(array().cast("array<int>"))
    // boundary list always ends at n (array_distinct: bpos is strictly
    // ascending and <= n, so this appends n exactly once)
    val allb = array_distinct(concat(bpos, array(n)))
    val starts = transform(allb, (_, i) =>
      when(i === 0, lit(1)).otherwise(element_at(allb, i) + 1))
    val chunks = zip_with(allb, starts, (b, st) =>
      md5(array_join(slice(toks, st, b - st + 1), " ")))
    docs.select(col("doc_id"), explode(chunks).as("h"))
  }

  /** X66 — content-defined chunk sharing (`q_cdc_chunks`): the
    * production chunk-dedup geometry X28's fixed 12-token windows
    * approximate. Fixed-size chunking is SHIFT-FRAGILE — prepend two
    * tokens and every downstream window changes, so storage/transfer
    * dedup (LBFS, rsync, borg/restic) cuts chunks where the CONTENT
    * says to: after any token whose trailing-window hash hits
    * 0 mod 8. An insertion disturbs only the chunks overlapping the
    * edit; boundaries re-synchronize within one window width
    * (DedupSpec pins exactly this: ≥60 % of a doc's CDC chunks
    * survive a 2-token prepend while the X28 fixed grid keeps <10 %).
    *
    * Same plant as X28 (the doc_id % 7 boilerplate prefix) so the
    * shared-chunk surface is non-vacuous by construction; output is
    * the cross-doc shared-chunk index (chunk hash → doc spread) — the
    * artifact a storage-dedup tier keys its block store by.
    */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit(chunkBoilerplate + " "), col("text")))
          .otherwise(col("text")).as("text"))
    cdcChunkStream(planted)
      .groupBy(col("h"))
      .agg(
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_occ"),
        min(col("doc_id")).cast("long").as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("h")
  }

  private def cdcSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN '$chunkBoilerplate ' || text
       |         ELSE text END AS text
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n
       |  FROM d),
       |b1 AS (
       |  SELECT doc_id, s.i AS b
       |  FROM t, LATERAL unnest(generate_series($cdcWindow, n)) AS s(i)
       |  WHERE ('0x' || substr(md5(array_to_string(w[s.i-${cdcWindow - 1}:s.i], ' ')), 1, 8))::BIGINT
       |        % $cdcDivisor = 0),
       |b2 AS (SELECT doc_id, b FROM b1 UNION SELECT doc_id, n AS b FROM t),
       |st AS (
       |  SELECT doc_id, b,
       |    coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) + 1 AS st
       |  FROM b2),
       |ch AS (
       |  SELECT s.doc_id, md5(array_to_string(t.w[s.st:s.b], ' ')) AS h
       |  FROM st s JOIN t USING (doc_id))
       |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occ, CAST(min(doc_id) AS BIGINT) AS min_doc
       |FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY h""".stripMargin

  /** X68 geometry: sliding-gram width (the exact-match unit) and the
    * minimum shared-run length worth reporting, in TOKENS (Lee et
    * al. use 50 BPE tokens on web-scale corpora; 12 fits this
    * corpus's ~100-token documents while keeping the threshold doing
    * real work — a run of k consecutive shared 12-grams certifies an
    * exact shared substring of k+11 tokens). Gram width EQUALS the
    * reporting threshold (r14 verdict task 5): any n ≤ 12 detects
    * the same ≥ 12-token runs with the same exact max_run, but
    * narrower grams collide far more (8-gram df ≫ 12-gram df), and
    * the match join's cost is Σ_g df(g)² — at the sf1-shape fixture
    * this single constant was the difference between 29 s and the
    * dedup-family norm. Widest-gram-that-preserves-the-threshold is
    * the general scale rule.
    */
  private[graft] val substrGramN = 12
  private[graft] val substrMinTokens = 12
  private[graft] val substrMaxDf = 64L

  /** Winnowing gram width (k) — X78 keeps the NARROWER 8-token gram
    * so its selection guarantee span w + k − 1 = 11 stays at or
    * under [[substrMinTokens]] (DedupSpec certifies every X68 pair
    * shares a selected fingerprint, which needs span ≤ threshold).
    * Winnowing never joins gram occurrences pairwise — it selects
    * ~2/(w+1) of them — so the collision pressure that forced X68's
    * grams wide does not apply here.
    */
  private[graft] val winnowK = 8

  /** X68 — exact shared-substring detection (`q_substr_dedup`): the
    * Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better", ACL 2022) exact-substring semantic, which their suffix
    * array computes single-node and this operator re-expresses
    * distributed: for every doc pair, the LONGEST run of tokens
    * shared verbatim at ANY alignment. X55's fixed 12-token chunk
    * grid detects a shared span only when the two copies' offsets
    * agree mod 12; sliding [[substrGramN]]-grams at every position
    * make the detection ALIGNMENT-FREE and the length EXACT — a
    * shared substring of T ≥ 12 tokens yields exactly T−11
    * consecutive shared grams on one (id_a, id_b, offset-difference)
    * diagonal, recovered by the X55 gaps-and-islands trick, so
    * max_run = k+11 is the true length, not a grid approximation.
    *
    * Scale: the gram stream is one narrow explode (n rows/doc — the
    * X15 stream with positions kept); the self-join is df-capped at
    * [[substrMaxDf]] (the X5a posting-cap discipline — a pair is
    * missed only if EVERY gram of its shared run is corpus-wide
    * boilerplate, which X52 strips upstream in the composed
    * pipeline); islands run per (pair, diagonal) — partitions
    * bounded by matched-gram volume, never corpus size.
    */
  /** Session-scoped memo of the positioned [[substrGramN]]-gram table
    * (doc_id, n_tokens, i, h) — the [[shingleIndex]] discipline for
    * the exact-substring family: X68 and X69 EACH consume it twice
    * (the df aggregate + the position join back), so a family pass
    * paid the split + positional explode + md5 four times. Volume is
    * ~(tokens − 11) rows/doc — linear in corpus tokens, same class as
    * the shingle index.
    */
  private[graft] def substrGrams(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, dir, "substr_grams") {
      val n = substrGramN
      val concatGram = (1 until n)
        .foldLeft("element_at(w, i)") { (acc, j) => s"concat($acc, ' ', element_at(w, i + $j))" }
      // r21: the per-position 12-token concat + md5 below is the
      // dominant cost and ran on ONE task (single-row-group scan);
      // fan the few-hundred-row corpus out across the cores first
      Tables.fanOutForCompute(Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= n)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          posexplode(expr(s"transform(sequence(1, size(w) - ${n - 1}), i -> md5($concatGram))")))
        .select(col("doc_id"), col("n_tokens"), (col("pos") + 1).as("i"), col("col").as("h"))
    }

  /** X68's verified pair table is memoized too ("substr_pairs"):
    * dup-volume-bounded output, heavy df-capped self-join build, and
    * two whole-table consumers (the declared X68 query and X87's
    * source-flow rollup) — the [[nearPairsIndexed]] argument. Cached
    * UNSORTED (see [[jaccardCut]]); the declared query sorts.
    */
  /** The (h, df) gram document-frequency dictionary, memoized: the
    * SAME aggregate feeds the X68 pair build's cap filter AND the
    * df-saturation guard's max-df probe — without the memo the guard
    * re-paid the full countDistinct collapse per declared-query
    * construction (measured +3.8 s at 10×).
    */
  private[graft] def substrDf(s: SparkSession, dir: String): DataFrame = {
    val grams = substrGrams(s, dir)
    SessionMemo(s, dir, "substr_df")(
      grams.select(col("doc_id"), col("h"))
        .groupBy("h").agg(countDistinct(col("doc_id")).as("df")))
  }

  private[graft] def substrPairs(s: SparkSession, dir: String): DataFrame = {
    val n = substrGramN
    val grams = substrGrams(s, dir) // hoisted: re-arms the upstream persist on memo hits
      .select(col("doc_id"), col("i"), col("h"))
    val dfs = substrDf(s, dir) // hoisted for the same reason
    SessionMemo(s, dir, "substr_pairs") {
    val dfreq = dfs
      .filter(col("df") <= substrMaxDf)
      .select("h")
    val kept = grams.join(dfreq, "h")
    val matched = kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.i").as("i_a"), (col("a.i") - col("b.i")).as("d"))
    val islands = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("i_a"))
    matched
      .withColumn("grp", col("i_a") - row_number().over(islands))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("grp"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        (max(col("k")) + lit(n - 1)).cast("long").as("max_run"),
        sum(col("k")).cast("long").as("n_shared_grams"))
      .filter(col("max_run") >= substrMinTokens)
    }
  }

  private[graft] def substrDedup(s: SparkSession, dir: String): DataFrame =
    dfGuarded(s, substrPairs(s, dir),
      dfSaturationFlag(substrDf(s, dir), substrMaxDf), "q_substr_dedup", substrMaxDf,
      Seq(lit(0L).as("max_run"), lit(0L).as("n_shared_grams")))
      .orderBy("id_a", "id_b")

  private[graft] def substrSql: String = {
    val n = substrGramN
    val gramExpr = (1 until n).foldLeft("w[i]") { (acc, j) => s"$acc || ' ' || w[i + $j]" }
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |g AS (
       |  SELECT doc_id, s.i, md5($gramExpr) AS h
       |  FROM t, LATERAL unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)),
       |dfq AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) <= $substrMaxDf),
       |k AS (SELECT g.* FROM g JOIN dfq USING (h)),
       |m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS i_a, a.i - b.i AS d
       |  FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT id_a, id_b, d,
       |    i_a - row_number() OVER (PARTITION BY id_a, id_b, d ORDER BY i_a) AS grp
       |  FROM m),
       |runs AS (
       |  SELECT id_a, id_b, d, grp, count(*) AS k
       |  FROM isl GROUP BY id_a, id_b, d, grp),
       |sat AS (
       |  SELECT COALESCE(max(df), 0) > $substrMaxDf AS df_saturated
       |  FROM (SELECT count(DISTINCT doc_id) AS df FROM g GROUP BY h))
       |SELECT id_a, id_b,
       |  CAST(max(k) + ${n - 1} AS BIGINT) AS max_run,
       |  CAST(sum(k) AS BIGINT) AS n_shared_grams,
       |  any_value(s.df_saturated) AS df_saturated
       |FROM runs CROSS JOIN sat s GROUP BY id_a, id_b
       |HAVING max(k) + ${n - 1} >= $substrMinTokens
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(0 AS BIGINT), df_saturated
       |FROM sat WHERE df_saturated
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** X69 — per-doc duplicated-token fraction (`q_dup_fraction`): the
    * corpus health number Lee et al. (ACL 2022) report as "% of tokens
    * inside a duplicated substring" — for each doc, the fraction of
    * its token positions covered by at least one [[substrGramN]]-token
    * window shared verbatim with ANOTHER doc. X68 answers "which pairs
    * share how much"; this answers the per-doc triage question a
    * pipeline acts on ("trim or drop THIS doc — most of it exists
    * elsewhere"), without materializing pairs at all.
    *
    * Coverage is an interval union: a shared gram starting at i covers
    * [i, i+n−1]; equal-length intervals merge exactly by the
    * gaps-and-islands rule (new island when the next start jumps by
    * more than n), so union length = Σ islands (max_i − min_i + n) —
    * no per-token explode of the covered set. The final fraction is
    * rounded in INTEGER space ((2·10⁴·dup + n_tok) div (2·n_tok), the
    * X58/X51 HALF_UP discipline) — dup/n_tok is an exact rational and
    * a double divide-then-round can flip engines on .xxxx5 ties.
    *
    * Scale: gram df in [2, [[substrMaxDf]]] — the lower bound is the
    * semantics (shared means df ≥ 2), the upper is the X5a/X68 posting
    * cap (corpus-boilerplate grams are struck by X52 upstream in the
    * composed pipeline, so the cap costs recall only on text that is
    * boilerplate anyway). One narrow positioned-gram explode, one df
    * aggregate, one semi-join back, then doc-keyed windows bounded by
    * doc length — never corpus-keyed, never pairwise.
    */
  private def dupFraction(s: SparkSession, dir: String): DataFrame = {
    val n = substrGramN
    val grams = substrGrams(s, dir)
    val shared = substrDf(s, dir)
      .filter(col("df") >= 2 && col("df") <= substrMaxDf)
      .select("h")
    val starts = grams.join(shared, "h").select("doc_id", "n_tokens", "i")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    starts
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(wDoc) > n, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("n_tokens"), col("grp"))
      .agg((max(col("i")) - min(col("i")) + n).as("cov"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("cov")).cast("long").as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        Extensions.share4("dup_tokens", "n_tokens").as("dup_frac"))
      .orderBy("doc_id")
  }

  private def dupFractionSql: String = {
    val n = substrGramN
    val gramExpr = (1 until n).foldLeft("w[i]") { (acc, j) => s"$acc || ' ' || w[i + $j]" }
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |g AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, s.i, md5($gramExpr) AS h
       |  FROM t, LATERAL unnest(generate_series(1, len(w) - ${n - 1})) AS s(i)),
       |sh AS (SELECT h FROM g GROUP BY h
       |       HAVING count(DISTINCT doc_id) BETWEEN 2 AND $substrMaxDf),
       |st AS (SELECT g.doc_id, g.n_tokens, g.i FROM g JOIN sh USING (h)),
       |isl AS (
       |  SELECT doc_id, n_tokens, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $n
       |         THEN 1 ELSE 0 END AS brk
       |  FROM st),
       |grps AS (
       |  SELECT doc_id, n_tokens, i,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM isl),
       |cov AS (
       |  SELECT doc_id, n_tokens, grp, max(i) - min(i) + $n AS cov
       |  FROM grps GROUP BY doc_id, n_tokens, grp),
       |d AS (
       |  SELECT doc_id, n_tokens, CAST(sum(cov) AS BIGINT) AS dup_tokens
       |  FROM cov GROUP BY doc_id, n_tokens)
       |SELECT doc_id, n_tokens, dup_tokens,
       |  CAST((20000 * dup_tokens + n_tokens) // (2 * n_tokens) AS DOUBLE) / 10000.0 AS dup_frac
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Winnowing window width (w). With k = [[winnowK]] grams, the
    * Schleimer guarantee span is w + k − 1 = 11 tokens: any pair of
    * docs sharing a verbatim run of ≥ 11 tokens SHARES at least one
    * selected fingerprint — DedupSpec certifies it against the X68
    * exact-substring pairs.
    */
  private[graft] val winnowW = 4

  /** X78 — winnowing fingerprint selection (`q_winnow`): the standard
    * document-fingerprinting algorithm (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — MOSS): in every window of [[winnowW]] consecutive
    * k-gram hashes select the MINIMUM (rightmost on ties); the
    * distinct selected set is the doc's fingerprint. The bargain over
    * indexing every gram (X68/X69's stream): expected density 2/(w+1)
    * — the index shrinks ~2.5× here — while the GUARANTEE survives:
    * any shared run of ≥ w+k−1 tokens shares a selected fingerprint,
    * because some window of the run lies wholly inside both copies
    * and both select the same minimal gram. That guarantee is what
    * separates winnowing from naive sampling (mod-p selection misses
    * arbitrarily long matches); at 100 TB it is the difference
    * between a bounded fingerprint index and the full gram posting
    * list.
    *
    * Declared output is the CROSS-DOC shared-fingerprint index
    * (df ≥ 2) — the artifact a plagiarism/copy detector actually
    * queries. The plan is the X68 row shape, NOT nested array
    * lambdas: an all-array formulation (windows as `slice`s over a
    * materialized hash column) re-hits the r9 HOF-inlining trap —
    * project collapse inlines the full gram-hash transform into
    * every window's slice, turning one md5 per gram into O(doc²)
    * md5s (measured 3m17s at sf0.01/32 threads vs 4s for this
    * plan). Instead: ONE posexplode of the gram stream (one md5
    * per gram), then ONE per-doc sliding frame `[CURRENT, w-1
    * FOLLOWING]` where `max(struct(-h, pos))` IS the rightmost
    * minimum (largest −h = smallest h; position breaks ties
    * rightward), full windows gated by `count = w`. Shuffles: the
    * doc_id window exchange (partition width bounded by max doc
    * length, never corpus size) and the fingerprint aggregate.
    * Hashes are the house exact-integer h32 (first 8 md5 hex
    * chars), identical in both engines.
    */
  private def winnow(s: SparkSession, dir: String): DataFrame = {
    val k = winnowK
    val w = winnowW
    val concatGram = (1 until k)
      .foldLeft("element_at(ws, i)") { (acc, j) => s"concat($acc, ' ', element_at(ws, i + $j))" }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i")).rowsBetween(0, w - 1)
    // r21: one md5 per token position on a single-task scan — fan out
    Tables.fanOutForCompute(Tables(s, dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k + w - 1)
      // The transform is guarded to be TOTAL (empty on short rows):
      // InferFiltersFromGenerate derives a size>0 predicate from the
      // posexplode and can evaluate it ahead of the length filter's
      // conjunct, where an unguarded sequence(1, n<1) descends
      // through 0 and crashes element_at on the very rows the
      // filter exists to drop.
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(ws) >= ${k + w - 1} THEN " +
          s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"i -> CAST(conv(substring(md5($concatGram), 1, 8), 16, 10) AS BIGINT)) " +
          s"ELSE CAST(array() AS ARRAY<BIGINT>) END")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
      .withColumn("m", max(struct((-col("h")).as("nh"), col("i").as("p"), col("h").as("mh"))).over(win))
      .withColumn("n_in", count(lit(1)).over(win))
      .filter(col("n_in") === w) // full windows only
      .select(col("doc_id"), col("m.p").as("p"), col("m.mh").as("h"))
      .distinct()
      .groupBy(col("h"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).cast("long").as("n_occ"),
        min(col("doc_id")).cast("long").as("min_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), col("n_docs").cast("long").as("n_docs"),
        col("n_occ"), col("min_doc"))
      .orderBy("h")
  }

  private def winnowSql: String = {
    val k = winnowK
    val w = winnowW
    val gramExpr = (1 until k).foldLeft("ws[i]") { (acc, j) => s"$acc || ' ' || ws[i + $j]" }
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${k + w - 1}),
       |g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, len(ws) - ${k - 1}),
       |      i -> ('0x' || substr(md5($gramExpr), 1, 8))::BIGINT) AS hs
       |  FROM t),
       |sel AS (
       |  SELECT doc_id, hs,
       |    list_distinct(list_transform(generate_series(1, len(hs) - ${w - 1}),
       |      j -> j + $w - list_position(list_reverse(hs[j:j+${w - 1}]),
       |                                  list_min(hs[j:j+${w - 1}])))) AS ps
       |  FROM g),
       |f AS (
       |  SELECT doc_id, hs[u.p] AS h
       |  FROM sel, LATERAL unnest(ps) AS u(p))
       |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occ, CAST(min(doc_id) AS BIGINT) AS min_doc
       |FROM f GROUP BY h HAVING count(DISTINCT doc_id) >= 2 ORDER BY h""".stripMargin
  }

  /** X83's private 64-slot universal-hash family (the 8-slot
    * [[graft.functions.MinHashSketch]] family is sized for banding,
    * not estimation — 8 slots give a ±0.125-resolution Jaccard, 64
    * give ±0.016 with σ = √(J(1−J)/64) ≤ 0.063). Constants are
    * derived from fixed LCG mixes at class-load and interpolated
    * into BOTH engines' arithmetic; A is odd and < 2³¹ so
    * base·A < 2⁶² never overflows a signed long in either engine.
    */
  private[graft] val soA: IndexedSeq[Long] =
    (1 to 64).map(i => ((2862933555777941757L * i + 3037000493L) & 0x7FFFFFFFL) | 1L)
  private[graft] val soB: IndexedSeq[Long] =
    (1 to 64).map(i => (6364136223846793005L * i + 1442695040888963407L) & 0x7FFFFFFFL)

  /** X83 — per-source shingle-overlap matrix via merged MinHash
    * signatures (`q_source_overlap`): estimated Jaccard between every
    * source PAIR's 3-gram shingle SETS — "are two crawls the same
    * corpus wearing different names?" — the planning number read
    * before X21/X26 spend pairwise work deduping across them. X40
    * compares token-frequency PROFILES (distribution shape); this
    * estimates true SET overlap, which profiles cannot see (two
    * sources can share every token yet no shingle).
    *
    * The operator IS the sketch algebra: a MinHash signature is
    * mergeable (elementwise min — commutative, associative,
    * idempotent), so the per-source signature is ONE aggregate over
    * the raw shingle stream — no per-source distinct (duplicates
    * cannot move a min), no shingle-set join, map-side partials
    * shrink the shuffle to ǀsourcesǀ rows of 64 longs. At 100 TB the
    * exact pairwise set-intersection is a corpus-sized join per pair;
    * the sketch path is one pass + a ǀsourcesǀ² matrix of plan
    * constants. DedupSpec certifies (a) the declared signature ==
    * the elementwise-min merge of independently recomputed per-DOC
    * signatures (mergeability, operationally), and (b) estimate
    * quality against the exact per-pair shingle Jaccard.
    *
    * The pair join is a ǀsourcesǀ-row broadcast nested loop (the
    * sanctioned tiny-aggregate BNLJ shape); match counting is a
    * 64-lane zip on plan-constant rows. Estimate rounds 4dp in
    * integer space: (20000·m + 64) div 128.
    */
  /** The per-source 64-slot signature table behind X83 — memoized
    * (r20): the sketch pass (trigram explode + 64-lane min aggregate
    * over the whole corpus) is the operator's entire cost, and it was
    * re-run by BOTH declared consumers (`q_source_overlap` builds the
    * matrix, X84 `q_source_family` thresholds the same matrix into a
    * graph). The cached frame is ǀsourcesǀ rows of 64 longs — the
    * smallest memo in the registry. Explicit `memo:source_sigs` bench
    * line keeps the first payer honest.
    */
  private[graft] def sourceSigs(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, dir, "source_sigs") {
      val base = h32(col("shingle")) % 2147483648L
      // r21: one md5 + 64 min-lane products per shingle on a single-
      // task scan — fan out before the explode
      Tables.fanOutForCompute(Tables(s, dir, "documents"))
        .select(col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("source"), explode(word3grams(col("w"))).as("shingle"))
        .groupBy(col("source"))
        .agg(array((0 until 64).map(i =>
          min((base * soA(i) + soB(i)) % lit(2147483647L))): _*).as("sig"))
    }

  private[graft] def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sig = sourceSigs(s, dir)
    sig.as("a").join(broadcast(sig.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        expr("CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v)) AS BIGINT)")
          .as("n_match"))
      .withColumn("est_jaccard", Extensions.share4("n_match", "64"))
      .orderBy("source_a", "source_b")
  }

  private def sourceOverlapSql: String = {
    val hashes = (0 until 64)
      .map(i => s"min(((('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483648) * ${soA(i)} + ${soB(i)}) % 2147483647) AS h$i")
      .mkString(", ")
    val matches = (0 until 64)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |ix AS (SELECT source, w, unnest(generate_series(1, len(w) - 2)) AS i FROM t),
       |shs AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM ix),
       |sig AS (SELECT source, $hashes FROM shs GROUP BY source),
       |m AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST($matches AS BIGINT) AS n_match
       |  FROM sig a JOIN sig b ON a.source < b.source)
       |SELECT source_a, source_b, n_match,
       |  CAST((20000 * n_match + 64) // 128 AS BIGINT) / 10000.0 AS est_jaccard
       |FROM m ORDER BY source_a, source_b""".stripMargin
  }

  private def chunkRuns(s: SparkSession, dir: String): DataFrame = {
    val ct = chunkTokens
    // r21: fan-out TRIED and reverted — the chunk stream's downstream
    // (countDistinct df + self-join + islands window) outweighs the
    // md5 spread at 32-way (measured 1.62 s → 2.12 s at sf0.1)
    val chunks = Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= ct)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (size(col("toks")) / ct).cast("int") - 1),
          i => md5(array_join(slice(col("toks"), i * ct + 1, lit(ct)), " ")))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
    val dfreq = chunks.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
    val kept = chunks.join(dfreq.filter(col("df") <= boilerplateDf).select("h"), "h")
    val matched = kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.i").as("i_a"), (col("a.i") - col("b.i")).as("d"))
    val islands = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("i_a"))
    matched
      .withColumn("grp", col("i_a") - row_number().over(islands))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run")).cast("long").as("max_run"),
        sum(col("run")).cast("long").as("n_shared"))
      .filter(col("max_run") >= 2)
      .orderBy("id_a", "id_b")
  }

  private val chunkRunsSql = {
    val ct = chunkTokens
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ct),
       |c AS (
       |  SELECT doc_id, i, md5(array_to_string(toks[(i*$ct+1):(i*$ct+$ct)], ' ')) AS h
       |  FROM t, LATERAL unnest(range(len(toks) // $ct)) AS u(i)),
       |dfreq AS (SELECT h, count(DISTINCT doc_id) AS df FROM c GROUP BY h),
       |kept AS (SELECT c.* FROM c JOIN dfreq USING (h) WHERE df <= $boilerplateDf),
       |m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS i_a, a.i - b.i AS d
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
       |r AS (
       |  SELECT id_a, id_b, d,
       |         i_a - row_number() OVER (PARTITION BY id_a, id_b, d ORDER BY i_a) AS grp
       |  FROM m),
       |runs AS (SELECT id_a, id_b, d, grp, count(*) AS run FROM r GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b,
       |  CAST(max(run) AS BIGINT) AS max_run,
       |  CAST(sum(run) AS BIGINT) AS n_shared
       |FROM runs GROUP BY 1, 2 HAVING max(run) >= 2
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val chunkSql = {
    val ct = chunkTokens
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN '$chunkBoilerplate ' || text ELSE text END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d WHERE len(string_split(text, ' ')) >= $ct),
       |c AS (
       |  SELECT doc_id, md5(array_to_string(toks[(i*$ct+1):(i*$ct+$ct)], ' ')) AS h
       |  FROM t, LATERAL unnest(range(len(toks) // $ct)) AS u(i)),
       |k AS (SELECT h, min(doc_id) AS keeper FROM c GROUP BY h)
       |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN k.keeper < c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |FROM c JOIN k USING (h)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  /** X148 — LSH band-table health (`q_lsh_stats`): the index audit
    * for the dedup family's own execution plan — X5b's candidate
    * build is an equi-join on (band, k1, k2), so ONE hot bucket is
    * simultaneously a straggler reducer (the X128 hazard, keyed by
    * the index's own keys) and a quadratic candidate-pair bomb (a
    * bucket of c docs emits c(c−1)/2 pairs). Per band: buckets,
    * banded docs, the largest bucket, the EXACT candidate-pair volume
    * Σc(c−1)/2 (the join's true cost driver — what X96 reports for
    * IVF cells, this reports for LSH buckets), and the max/avg bucket
    * skew ratio (keySkewOf numerics, 4dp integer HALF_UP); riding,
    * the total pair volume across bands. Runs over the SAME planted
    * corpus the declared dedup queries band, so the numbers are the
    * audit of the index those queries actually join.
    *
    * Scale: reads the SAME memoized shingle index every other dedup
    * query shares (r14 verdict task 8 — it used to rebuild the
    * explode+distinct scan privately, the only dedup query that did),
    * then the X5b signature build (sketch aggregate, map-side
    * partials), one exchange to the (band, key) bucket dictionary,
    * a ≤ǀbandsǀ rollup; the riding total is a window over ≤ǀbandsǀ
    * rows. At 100 TB this reads the persisted band table directly.
    */
  private def lshStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    minhashBands(shingleIndex(s, dir))
      .groupBy(col("band"), col("k1"), col("k2")).agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_docs"),
        max(col("c")).as("max_bucket"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1) DIV 2")).as("pairs"))
      .select(
        col("band").cast("long").as("band"),
        col("n_buckets").cast("long").as("n_buckets"),
        col("n_docs").cast("long").as("n_docs"),
        col("max_bucket").cast("long").as("max_bucket"),
        col("pairs").cast("long").as("pairs"),
        Extensions.share4("CAST(max_bucket AS DECIMAL(38,0)) * n_buckets",
          "CAST(n_docs AS DECIMAL(38,0))").as("skew_ratio"),
        sum(col("pairs")).over(wAll).cast("long").as("total_pairs"))
      .orderBy("band")
  }

  private def lshStatsSql: String =
    s"""WITH ${sigBandsSqlOver(corpusSql)},
       |bk AS (SELECT band, k1, k2, count(*) AS c FROM bands GROUP BY 1, 2, 3),
       |st AS (
       |  SELECT band, count(*) AS n_buckets, sum(c) AS n_docs,
       |    max(c) AS max_bucket,
       |    sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS pairs
       |  FROM bk GROUP BY 1)
       |SELECT CAST(band AS BIGINT) AS band,
       |  CAST(n_buckets AS BIGINT) AS n_buckets,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(max_bucket AS BIGINT) AS max_bucket,
       |  CAST(pairs AS BIGINT) AS pairs,
       |  CAST((CAST(max_bucket AS HUGEINT) * n_buckets * 20000 + n_docs)
       |       // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT) / 10000.0 AS skew_ratio,
       |  CAST(sum(pairs) OVER () AS BIGINT) AS total_pairs
       |FROM st ORDER BY band""".stripMargin

  /** X150 — LSH recall audit (`q_lsh_recall`): X148 audits the band
    * table's execution risk; this audits its DETECTION risk — the
    * recall of X5b's banded candidate generation against the exact
    * ≥ 0.6-Jaccard truth X5a computes on the same corpus, bucketed
    * by true Jaccard, next to the THEORY column: under the standard
    * MinHash banding model (Broder; 4 bands × 2 rows) a pair of true
    * similarity J collides with probability 1 − (1 − J²)⁴, an exact
    * rational this operator evaluates per pair in integer millionths
    * (union ≤ ~200 distinct shingles ⇒ union⁸ < 10¹⁹, inside
    * DECIMAL(38,0)) — so `recall` vs `expected_recall` reads
    * measured-vs-model directly, no simulation. The curator's
    * question it answers: "is the 0.6–0.7 band where my index is
    * blind (model says ~66 %) actually recovering what the model
    * promises, and how much does the miss rate matter per bucket?"
    * Riding: the overall recall across buckets.
    *
    * Exactness caveats stated: the truth table is X5a's (complete
    * except all-boilerplate-shared pairs, df > [[nearMaxDf]]); a
    * pair the bands catch that X5a's truth misses is excluded from
    * BOTH numerator and denominator (recall OF the truth set).
    *
    * Scale: both pair tables are read from the SAME session memos the
    * rest of the family holds ([[nearPairsIndexed]] /
    * [[minhashVerified]] — r16: a family pass used to rebuild both
    * collision joins just for this audit; 2.47 s → 0.38 s at sf0.1);
    * the join is pair-keyed; the rollup is a ≤4-bucket dictionary +
    * windows over it.
    */
  private def lshRecall(s: SparkSession, dir: String): DataFrame =
    lshRecallOver(nearPairsIndexed(s, dir), minhashVerified(s, dir))

  /** X150 core over any shingle index — factored so DedupSpec can
    * drive a planted mid-J corpus through the 0.6–0.7 blind zone
    * (the shipped corpus's planted dups are all high-J, so the
    * interesting bucket is exercised by fixture, certified by the
    * same machinery).
    */
  private[graft] def lshRecallFrom(shIdx: DataFrame): DataFrame =
    lshRecallOver(nearPairs(shIdx, nearMaxDf), verifyJaccard(shIdx, minhashCands(shIdx)))

  private def lshRecallOver(truthPairs: DataFrame, caughtPairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val truth = truthPairs
    val caught = caughtPairs
      .select(col("id_a"), col("id_b")).withColumn("hit", lit(1L))
    val u8 = "CAST(u2 AS DECIMAL(38,0)) * u2 * u2 * u2"
    val d4 = "CAST(dd AS DECIMAL(38,0)) * dd * dd * dd"
    truth
      .join(caught, Seq("id_a", "id_b"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .withColumn("u2", col("n_union") * col("n_union"))
      .withColumn("dd", col("u2") - col("shared") * col("shared"))
      .withColumn("p6", expr(
        Extensions.sq4(s"100 * ($u8 - $d4)", u8)))
      .groupBy(expr("least((10 * shared) DIV n_union, 9)").cast("long").as("j_bucket"))
      .agg(
        count(lit(1)).as("n_true"),
        sum(col("hit")).as("n_caught"),
        sum(col("p6")).as("sp6"))
      .withColumn("tt", sum(col("n_true")).over(wAll))
      .withColumn("tc", sum(col("n_caught")).over(wAll))
      .select(
        col("j_bucket"),
        col("n_true").cast("long").as("n_true"),
        col("n_caught").cast("long").as("n_caught"),
        Extensions.share4("n_caught", "n_true").as("recall"),
        Extensions.share4("CAST(sp6 AS DECIMAL(38,0))", "1000000 * CAST(n_true AS DECIMAL(38,0))")
          .as("expected_recall"),
        Extensions.share4("tc", "tt").as("overall_recall"))
      .orderBy("j_bucket")
  }

  /** The X150 oracle: the X5a truth chain (nearChainSql + the 0.6
    * cut), then the X5b signature/band/candidate chain stated OVER
    * that prefix (the shared `sh`/`card` CTEs bind once), the exact
    * per-pair verify, the left join, and the same integer
    * millionths collision model.
    */
  private def lshRecallSql: String = {
    val truthChain =
      s"""$nearChainSql,
         |vu AS MATERIALIZED (
         |  SELECT v.id_a, v.id_b, v.shared, ca.n + cb.n - v.shared AS n_union
         |  FROM verified v
         |  JOIN card ca ON ca.doc_id = v.id_a
         |  JOIN card cb ON cb.doc_id = v.id_b
         |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared))""".stripMargin
    s"""WITH ${minhashCandSqlOver(truthChain)},
       |mv AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |mh AS (
       |  SELECT v.id_a, v.id_b FROM mv v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |jp AS (
       |  SELECT vu.shared, vu.n_union,
       |    CASE WHEN mh.id_a IS NULL THEN 0 ELSE 1 END AS hit,
       |    vu.n_union * vu.n_union AS u2,
       |    vu.n_union * vu.n_union - vu.shared * vu.shared AS dd
       |  FROM vu LEFT JOIN mh ON mh.id_a = vu.id_a AND mh.id_b = vu.id_b),
       |pp AS (
       |  SELECT least((10 * shared) // n_union, 9) AS j_bucket, hit,
       |    CAST((2000000 * (CAST(u2 AS HUGEINT) * u2 * u2 * u2
       |                     - CAST(dd AS HUGEINT) * dd * dd * dd)
       |          + CAST(u2 AS HUGEINT) * u2 * u2 * u2)
       |      // (2 * CAST(u2 AS HUGEINT) * u2 * u2 * u2) AS BIGINT) AS p6
       |  FROM jp),
       |agg AS (
       |  SELECT j_bucket, count(*) AS n_true, sum(hit) AS n_caught,
       |    sum(CAST(p6 AS HUGEINT)) AS sp6
       |  FROM pp GROUP BY 1)
       |SELECT CAST(j_bucket AS BIGINT) AS j_bucket,
       |  CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_caught AS BIGINT) AS n_caught,
       |  CAST((20000 * n_caught + n_true) // (2 * n_true) AS BIGINT) / 10000.0 AS recall,
       |  CAST((2 * sp6 + 100 * n_true) // (200 * n_true) AS BIGINT) / 10000.0 AS expected_recall,
       |  CAST((20000 * sum(n_caught) OVER () + sum(n_true) OVER ())
       |    // (2 * sum(n_true) OVER ()) AS BIGINT) / 10000.0 AS overall_recall
       |FROM agg ORDER BY j_bucket""".stripMargin
  }

  /** X159's df-bucket ladder: (df_lo, df_hi, label) — doubling edges,
    * with [[nearMaxDf]] = 64 landing exactly on a bucket boundary so
    * the 65+ bucket IS the above-cap mass.
    */
  private[graft] val dfLadder: Seq[(Long, Long, String)] = Seq(
    (1L, 1L, "1"), (2L, 2L, "2"), (3L, 4L, "3-4"), (5L, 8L, "5-8"),
    (9L, 16L, "9-16"), (17L, 32L, "17-32"), (33L, 64L, "33-64"),
    (65L, Long.MaxValue, "65+"))

  /** X159 — shingle document-frequency audit (`q_shingle_df`): the
    * index-health report that JUSTIFIES the dedup family's df cap.
    * Every collision-join variant (X5a near, X54 containment, X78
    * winnow…) prunes shingles with df > [[nearMaxDf]] and pays an
    * exactness-correction for them; whether that cap is safe — and
    * what it saves — is an empirical property of the corpus this
    * report states. Per df bucket (1, 2, 3–4, …, 33–64, 65+ — the cap
    * edge is a ladder edge by construction): distinct shingles,
    * postings (Σ df — index volume), and the PAIR VOLUME Σ df·(df−1)/2
    * the uncapped collision join would generate from that bucket —
    * the quadratic the cap exists to cut — with 4dp shares of both.
    * The 65+ row's pair_share is the number to read: the fraction of
    * uncapped join work the cap deletes (and the correction re-derives
    * exactly). Absent buckets carry zeros (the X101 complete-grid
    * rule).
    *
    * Scale: reuses the memoized X5a index; ONE vocab-dictionary df
    * collapse (map-side partials — the q_doc_freq shape and the same
    * work the index build already does), an ≤8-bucket rollup, 1-row
    * broadcast totals, a ladder-literal left join. Pair volume sums on
    * DECIMAL(38,0): a single 10⁹-df shingle's ~5·10¹⁷ pairs still fits
    * BIGINT — it is the per-BUCKET SUM over millions of such shingles
    * that can overflow, so the accumulator must be 128-bit. The
    * REPORTED pair_volume column is BIGINT (the driver's oracle hash
    * rejects int128-class columns), clamped to Long.MaxValue
    * identically on both engines — a saturated 9.22·10¹⁸ reading means
    * "at least this much", and pair_share (computed on the unclamped
    * decimals) stays exact regardless. DedupSpec recounts the ladder
    * sequentially at two SFs and pins bucket completeness + share
    * algebra + the clamp.
    */
  /** The (shingle, df) dictionary, memoized: shared by X159's ladder,
    * the X5a df-saturation guard, and spec recounts — one
    * vocab-bounded collapse over the cached index instead of one per
    * consumer.
    */
  private[graft] def shingleDfDict(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir) // hoisted: re-arms the upstream persist on memo hits
    SessionMemo(s, dir, "shingle_df")(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
  }

  private def shingleDf(s: SparkSession, dir: String): DataFrame =
    shingleDfOf(shingleDfDict(s, dir))

  /** X159's ladder algebra off a (shingle, df) frame — factored so
    * DedupSpec can drive a hand-planted skewed df table through every
    * bucket including 65+ (live on the real corpus only at scale; the
    * sf0.01 index tops out in 5–8).
    */
  private[graft] def shingleDfOf(dfs: DataFrame): DataFrame = {
    val lo = dfLadder.foldRight(lit(null).cast("long")) { case ((l, h, _), acc) =>
      when(col("df") >= l && col("df") <= h, lit(l)).otherwise(acc)
    }
    val agg = dfs.select(lo.as("df_lo"), col("df"))
      .groupBy(col("df_lo"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(col("df")).as("postings"),
        sum(expr("CAST(df AS DECIMAL(38,0)) * (df - 1) DIV 2").cast("decimal(38,0)"))
          .as("pair_volume"))
    val ladder = dfLadder.map { case (l, _, b) => (l, b) }
      .foldLeft(Seq.empty[Column]) { case (acc, (l, b)) =>
        acc :+ struct(lit(l).as("df_lo"), lit(b).as("bucket"))
      }
    val totals = agg.agg(
      sum(col("postings")).as("tot_post"),
      sum(col("pair_volume")).as("tot_pairs"))
    val grid = dfs.sparkSession.range(1).select(explode(array(ladder: _*)).as("g"))
      .select(col("g.df_lo").as("l_lo"), col("g.bucket").as("bucket"))
    grid.join(agg, col("l_lo") === col("df_lo"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        col("l_lo").as("df_lo"),
        coalesce(col("n_shingles"), lit(0L)).cast("long").as("n_shingles"),
        coalesce(col("postings"), lit(0L)).cast("long").as("postings"),
        // Clamp before the BIGINT cast: Spark non-ANSI would silently
        // NULL an overflowing decimal→long cast (and DuckDB would hard
        // error) — saturating at Long.MaxValue is loud-by-value and
        // identical on both engines. pair_share below uses the
        // unclamped decimal totals, so shares stay exact.
        least(coalesce(col("pair_volume"), lit(0L)).cast("decimal(38,0)"),
            lit(Long.MaxValue).cast("decimal(38,0)")).cast("long")
          .as("pair_volume"),
        Extensions.share4("COALESCE(postings, 0)", "tot_post").as("postings_share"),
        Extensions.share4("COALESCE(pair_volume, 0)", "tot_pairs").as("pair_share"))
      .orderBy("df_lo")
  }

  private def shingleDfSql: String = {
    val ladderVals = dfLadder
      .map { case (l, h, b) =>
        val hi = if (h == Long.MaxValue) "9223372036854775807" else h.toString
        s"($l, $hi, '$b')"
      }
      .mkString(", ")
    s"""WITH $corpusSql,
       |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |ladder AS (SELECT * FROM (VALUES $ladderVals) l(df_lo, df_hi, bucket)),
       |agg AS (
       |  SELECT l.df_lo AS df_lo, count(*) AS n_shingles, sum(d.df) AS postings,
       |    sum(CAST(d.df AS HUGEINT) * (d.df - 1) // 2) AS pair_volume
       |  FROM dfs d JOIN ladder l ON d.df >= l.df_lo AND d.df <= l.df_hi
       |  GROUP BY 1),
       |tot AS (SELECT sum(postings) AS tot_post, sum(pair_volume) AS tot_pairs FROM agg)
       |SELECT l.bucket, CAST(l.df_lo AS BIGINT) AS df_lo,
       |  CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(a.postings, 0) AS BIGINT) AS postings,
       |  CAST(LEAST(CAST(COALESCE(a.pair_volume, 0) AS HUGEINT),
       |             9223372036854775807::HUGEINT) AS BIGINT) AS pair_volume,
       |  CAST((20000 * COALESCE(a.postings, 0) + t.tot_post)
       |       // (2 * t.tot_post) AS BIGINT) / 10000.0 AS postings_share,
       |  CASE WHEN t.tot_pairs = 0 THEN 0.0 ELSE
       |    CAST((20000 * COALESCE(a.pair_volume, 0) + t.tot_pairs)
       |         // (2 * t.tot_pairs) AS BIGINT) / 10000.0 END AS pair_share
       |FROM ladder l LEFT JOIN agg a ON a.df_lo = l.df_lo
       |CROSS JOIN tot t ORDER BY df_lo""".stripMargin
  }

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_lsh_tune" -> QueryDef(
      lshTune,
      Some(lshTuneSql),
      "X166 LSH band/row tuning: expected recall per (bands, rows) from the S-curve over the verified pair set"),
    "q_minhash_err" -> QueryDef(
      minhashErr,
      Some(minhashErrSql),
      "X170 MinHash estimator calibration: per slot-match bucket, mean/max |m/8 - exact Jaccard| over the truth pairs"),
    "q_shingle_df" -> QueryDef(
      shingleDf,
      Some(shingleDfSql),
      "X159 shingle-df audit: per-bucket postings + uncapped pair volume, the df-cap justification"),
    "q_dedup_near" -> QueryDef(
      dedupNear,
      // Same one-pass shape as the Spark side: shared counted directly
      // off the capped collision join, high-df shingles added back by
      // the (empty-on-this-corpus) correction join; the df-saturation
      // guard (flag column + sentinel row) is stated in SQL too, so
      // the guard contract is itself oracle-checked.
      Some(s"""WITH $nearChainSql,
              |sat AS (SELECT COALESCE(max(df), 0) > $nearMaxDf AS df_saturated FROM dfreq)
              |SELECT v.id_a, v.id_b, CAST(v.shared AS BIGINT) AS shared,
              |  CAST(ca.n + cb.n - v.shared AS BIGINT) AS n_union, s.df_saturated
              |FROM verified v
              |JOIN card ca ON ca.doc_id = v.id_a
              |JOIN card cb ON cb.doc_id = v.id_b
              |CROSS JOIN sat s
              |WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)
              |UNION ALL
              |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
              |  CAST(0 AS BIGINT), df_saturated
              |FROM sat WHERE df_saturated
              |ORDER BY id_a, id_b""".stripMargin),
      "X5a n-gram Jaccard near-dup via df-capped inverted shingle index, df-saturation-guarded"),
    "q_dedup_sweep" -> QueryDef(
      dedupSweep,
      Some(sweepSql),
      "X117 Jaccard-cut sensitivity sweep: pairs/docs surviving each threshold ≥ the 0.6 floor"),
    "q_lsh_stats" -> QueryDef(
      lshStats,
      Some(lshStatsSql),
      "X148 LSH band-table health: per band, buckets, hottest bucket, exact candidate-pair volume + skew"),
    "q_lsh_recall" -> QueryDef(
      lshRecall,
      Some(lshRecallSql),
      "X150 LSH recall audit: per-Jaccard-bucket banding recall vs the exact 1-(1-J^2)^4 model"),
    "q_dedup_minhash" -> QueryDef(
      dedupMinhash,
      Some(minhashSql),
      "X5b banded MinHash LSH near-dup (8 hashes, 4 bands), exact-verified"),
    "q_dedup_incr" -> QueryDef(
      dedupIncremental,
      Some(incrementalSql),
      "X53 incremental near-dedup: new batch banded against the prebuilt index, no batch-internal pairs"),
    "q_containment" -> QueryDef(
      containment,
      Some(containSql),
      "X54 containment (asymmetric overlap) scoring: excerpt/subset pairs Jaccard cannot see"),
    "q_dedup_simhash" -> QueryDef(
      dedupSimhash,
      Some(simhashSql),
      "X5c SimHash 60-bit near-dup, banded multi-probe candidates, Hamming <= 13"),
    "q_dedup_fuzzy" -> QueryDef(
      dedupFuzzy,
      Some(fuzzySql),
      "X5d edit-distance dedup over LSH candidates (levenshtein <= 25 on prefix)"),
    "q_dedup_embed" -> QueryDef(
      (s, dir) => dedupEmbed(s, dir),
      Some {
        // Bucket computed from the BASE embedding: the perturbation
        // only scales dim 2 (not a plane) by a positive factor, so the
        // perturbed copy's signs — hence bucket — are identical.
        // Series bounds driven by len(embedding), not a hardcoded dim.
        val bucketExpr = embedPlanes
          .map { case (d, w) => s"(CASE WHEN b.embedding[$d] > 0 THEN $w ELSE 0 END)" }
          .mkString("\n             ", "\n           + ", "")
        s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
           |all_vecs AS (
           |  SELECT vec_id AS id, vec_id AS src, FALSE AS pert FROM base
           |  UNION ALL
           |  SELECT vec_id + 100000 AS id, vec_id AS src, TRUE AS pert FROM base WHERE vec_id % 20 = 0),
           |elems AS (
           |  SELECT id, i, CASE WHEN pert AND i = 2 THEN x * 1.5 ELSE x END AS x
           |  FROM (
           |    SELECT a.id, a.pert,
           |      unnest(generate_series(1, len(b.embedding))) AS i,
           |      unnest(list_transform(b.embedding, v -> CAST(v AS DOUBLE))) AS x
           |    FROM all_vecs a JOIN base b ON b.vec_id = a.src)),
           |buckets AS (
           |  SELECT a.id, $bucketExpr AS bucket
           |  FROM all_vecs a JOIN base b ON b.vec_id = a.src),
           |masks AS (SELECT unnest([0, ${embedPlanes.map(_._2).mkString(", ")}]) AS m),
           |probes AS (SELECT id, xor(bucket::BIGINT, m) AS pb FROM buckets CROSS JOIN masks),
           |pairs AS (SELECT a.id AS id_a, b.id AS id_b
           |          FROM probes a JOIN buckets b ON a.pb = b.bucket::BIGINT AND a.id < b.id),
           |scored AS (
           |  SELECT p.id_a, p.id_b,
           |    sum(ea.x * eb.x) / (sqrt(sum(ea.x * ea.x)) * sqrt(sum(eb.x * eb.x))) AS score
           |  FROM pairs p JOIN elems ea ON ea.id = p.id_a
           |  JOIN elems eb ON eb.id = p.id_b AND eb.i = ea.i
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, round(score, 4) + 0 AS score FROM scored
           |WHERE score >= 0.8 ORDER BY id_a, id_b""".stripMargin
      },
      "X6 embedding cosine near-dup via 12-plane sign-LSH + Hamming-1 multi-probe"),
    "q_dedup_chunk" -> QueryDef(
      (s, d) => dedupChunks(s, d),
      Some(chunkSql),
      "X28 chunk-level (paragraph) exact dedup, keep-first by doc_id"),
    "q_boilerplate_strip" -> QueryDef(
      boilerplateStrip,
      Some(boilerplateSql),
      "X52 frequent-chunk boilerplate removal with order-certified in-row reassembly"),
    "q_chunk_runs" -> QueryDef(
      chunkRuns,
      Some(chunkRunsSql),
      "X55 longest shared chunk run per pair: copied-span detection via gaps-and-islands"),
    "q_cdc_chunks" -> QueryDef(
      cdcChunks,
      Some(cdcSql),
      "X66 content-defined chunking: rolling-window boundary rule, cross-doc shared-chunk index"),
    "q_substr_dedup" -> QueryDef(
      substrDedup,
      Some(substrSql),
      "X68 exact shared substrings (Lee et al.): sliding-gram diagonals, alignment-free runs"),
    "q_dup_fraction" -> QueryDef(
      dupFraction,
      Some(dupFractionSql),
      "X69 per-doc duplicated-token fraction: shared-gram interval union, integer-round"),
    "q_winnow" -> QueryDef(
      winnow,
      Some(winnowSql),
      "X78 winnowing fingerprints (MOSS): rightmost-min window selection, shared index"),
    "q_source_overlap" -> QueryDef(
      sourceOverlap,
      Some(sourceOverlapSql),
      "X83 per-source shingle-overlap matrix: merged 64-slot MinHash, estimate vs exact pinned"),
    "q_semdedup" -> QueryDef(
      (s, d) => semDedup(s, d),
      Some(semDedupSql),
      "X36 SemDeDup: within-cell embedding near-dup pairs over k-means cells"),
  )
}
