package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Shuffle-health operators (SURVEY.md §2.5, X128+): the audits and
  * mitigations a 100 TB deployment runs on its own EXECUTION plan, not
  * its data content. Every big join/aggregation in this engine shuffles
  * on some key; a single hot key turns a 1000-executor stage into a
  * one-straggler stage. This module makes that risk a first-class,
  * oracle-checked query surface:
  *
  *  - X128 `q_key_skew` — the detector: per declared hot-key family
  *    (the keys this engine's own operators shuffle on), the exact
  *    key-cardinality profile, the max/avg skew ratio, and the salt
  *    factor a mitigation would need.
  *  - X130 `q_join_plan` — the join-strategy pre-flight: per declared
  *    join pair, both sides' modeled payload bytes, the build side,
  *    the broadcast verdict vs Spark's 10 MiB threshold, and the
  *    bytes a shuffle would move if not.
  *
  * Reference: the reference daemon (SURVEY §1) is single-threaded and
  * never shuffles; this family exists purely for the Spark-scale
  * execution model (SURVEY §4).
  */
object Shuffle {

  /** The hot-key families this engine's own operators shuffle on:
    * sessionize/funnel/upsert group events by user; the tumble/rate
    * windows group by event_type; Q3-style joins shuffle orders on
    * custkey and lineitem on partkey; every per-source rollup groups
    * documents by source. Auditing exactly these keys makes X128 the
    * planner's pre-flight check, not a generic profiler.
    */
  private[graft] val skewFamilies: Seq[(String, String)] = Seq(
    "documents" -> "source",
    "events" -> "event_type",
    "events" -> "user_id",
    "lineitem" -> "l_partkey",
    "orders" -> "o_custkey")

  /** The skew verdict threshold: a key family is flagged when its
    * hottest key holds more than 4x the average key's rows — the point
    * where AQE's skew-join splitting starts to matter and a
    * stream-static or aggregate path (which AQE cannot rescue) needs
    * explicit salting.
    */
  private[graft] val skewThreshold = 4L

  /** The (key, count) dictionary for one audited key family — the ONE
    * corpus-scale pass (narrow single-column scan, map-side partial
    * agg, one exchange to the key dictionary). Factored out of
    * [[keySkewOf]] so ShuffleSpec can pin column pruning (ReadSchema
    * carries only the audited key) on the dictionary plan.
    */
  private[graft] def keyCounts(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))

  /** X128's audit fold over a (k, c) count dictionary — ONE aggregate,
    * shared with the streaming `Gateway.skewFeed`: row total, key
    * count, max count and the hot key. The hot key is the MIN key among
    * the max-count groups, carried as `min(struct(-c, k IS NULL, k))`
    * — order-free, so partitioning and micro-batch boundaries cannot
    * move it — and the `k IS NULL` field keeps the oracle's rule: a
    * NULL key wins only when its group alone holds the max count.
    */
  private[graft] def skewAgg: Seq[Column] = Seq(
    sum(col("c")).as("n_rows"),
    count(lit(1)).as("n_keys"),
    max(col("c")).as("max_cnt"),
    min(struct((-col("c")).as("negc"), col("k").isNull.as("knull"), col("k").as("hk")))
      .as("hot"))

  /** The audit row read off [[skewAgg]]'s columns. */
  private[graft] def skewCols(threshold: Long): Seq[Column] = Seq(
    col("n_rows").cast("long").as("n_rows"),
    col("n_keys").cast("long").as("n_keys"),
    col("max_cnt").cast("long").as("max_cnt"),
    col("hot").getField("hk").as("hot_key"),
    skewRatio.as("skew_ratio"),
    skewVerdict(threshold).as("is_skewed"),
    skewSalt(threshold).as("salt_n"))

  /** X128 core — audit one key family's count dictionary into a 1-row
    * profile: [[skewAgg]] over [[keyCounts]]. An aggregate without
    * grouping keys, so an empty family still yields its one row
    * (n_keys 0, NULL totals and hot key, no verdict), as in the oracle.
    *
    * Numerics are exact end-to-end: skew_ratio = max_cnt*n_keys/n_rows
    * is an exact rational rounded 4dp HALF_UP in integer space
    * ((20000*num + den) DIV (2*den), DECIMAL(38,0) so 10^13 rows x
    * 10^9 keys stays in range); salt_n = ceil(max/avg) by integer
    * ceiling division.
    */
  private[graft] def keySkewOf(
      df: DataFrame, keyCol: String, label: String): DataFrame =
    keyCounts(df, keyCol).agg(skewAgg.head, skewAgg.tail: _*)
      .select(lit(label).as("key_name") +: skewCols(skewThreshold): _*)

  /** X128's skew algebra over (n_rows, n_keys, max_cnt) columns,
    * shared with the streaming `Gateway.skewFeed`: the exact max/avg
    * ratio max_cnt·n_keys/n_rows at 4 dp, in DECIMAL(38,0).
    */
  private[graft] def skewRatio: Column =
    Extensions.share4("CAST(max_cnt AS DECIMAL(38,0)) * n_keys", "CAST(n_rows AS DECIMAL(38,0))")

  private def skewed(threshold: Long): String =
    s"CAST(max_cnt AS DECIMAL(38,0)) * n_keys > $threshold * CAST(n_rows AS DECIMAL(38,0))"

  /** 1 when max/avg exceeds `threshold`, by integer cross-multiply. */
  private[graft] def skewVerdict(threshold: Long): Column =
    expr(s"CAST(CASE WHEN ${skewed(threshold)} THEN 1 ELSE 0 END AS BIGINT)")

  /** The salt factor ceil(max/avg) a skewed key needs; 1 otherwise. */
  private[graft] def skewSalt(threshold: Long): Column = expr(
    s"""CAST(CASE WHEN ${skewed(threshold)}
       |    THEN (CAST(max_cnt AS DECIMAL(38,0)) * n_keys
       |          + CAST(n_rows AS DECIMAL(38,0)) - 1)
       |         DIV CAST(n_rows AS DECIMAL(38,0))
       |    ELSE 1 END AS BIGINT)""".stripMargin)

  /** X128 — shuffle-key skew audit (`q_key_skew`): the pre-flight
    * check a planner runs before committing a 100 TB shuffle. Per
    * declared hot-key family: row count, key cardinality, hottest
    * key + its row count, the exact max/avg skew ratio, the >4x
    * verdict, and the salt factor (ceil(max/avg) — how many ways the
    * hot key must split so no reducer holds more than ~the average
    * load) a mitigation would use.
    *
    * The shipped corpus is HEALTHY — every family's ratio sits in
    * [1.0, 2.5], all verdicts 0, all salt_n 1 (the degenerate-audit
    * pass state, the X127 precedent) — so ShuffleSpec drives the fired
    * branch through the same [[keySkewOf]] on a synthetic zipf fixture
    * and recounts every field sequentially at two SFs.
    *
    * Scale: per family ONE narrow single-column scan collapsed
    * map-side to the key dictionary and one dictionary-bounded
    * aggregate. The five families are independent branches of one
    * lazy union, so Spark runs their stages side by side; nothing
    * corpus-wide survives past the first agg.
    */
  private def keySkew(s: SparkSession, dir: String): DataFrame =
    skewFamilies
      .map { case (t, k) => keySkewOf(Tables(s, dir, t), k, s"$t.$k") }
      .reduce(_ unionByName _).orderBy("key_name")

  private def skewSql(table: String, key: String): String =
    s"""SELECT '$table.$key' AS key_name, CAST(t.n AS BIGINT) AS n_rows,
       |  CAST(t.nk AS BIGINT) AS n_keys, CAST(t.mx AS BIGINT) AS max_cnt,
       |  (SELECT min(k) FROM (SELECT CAST($key AS VARCHAR) k, count(*) c
       |                       FROM $table GROUP BY $key) c2
       |   WHERE c2.c = t.mx) AS hot_key,
       |  CAST((CAST(t.mx AS HUGEINT) * t.nk * 20000 + t.n)
       |       // (2 * CAST(t.n AS HUGEINT)) AS BIGINT) / 10000.0 AS skew_ratio,
       |  CAST(CASE WHEN CAST(t.mx AS HUGEINT) * t.nk > $skewThreshold * CAST(t.n AS HUGEINT)
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_skewed,
       |  CAST(CASE WHEN CAST(t.mx AS HUGEINT) * t.nk > $skewThreshold * CAST(t.n AS HUGEINT)
       |       THEN (CAST(t.mx AS HUGEINT) * t.nk + t.n - 1) // CAST(t.n AS HUGEINT)
       |       ELSE 1 END AS BIGINT) AS salt_n
       |FROM (SELECT sum(c) n, count(*) nk, max(c) mx
       |      FROM (SELECT count(*) c FROM $table GROUP BY $key) cc) t""".stripMargin

  /** X130's static column catalog — (column, kind) per table, kind ∈
    * fixed | str | farr — the source of truth BOTH engines' byte
    * models are generated from, so the Spark expression and the
    * DuckDB SQL cannot drift from each other. ShuffleSpec guards the
    * remaining drift axis (catalog vs the actual parquet schema): a
    * testdata regeneration that adds or retypes a column fails loudly.
    */
  private[graft] val tableCatalog: ListMap[String, Seq[(String, String)]] = ListMap(
    "region" -> Seq("r_regionkey" -> "fixed", "r_name" -> "str"),
    "nation" -> Seq("n_nationkey" -> "fixed", "n_name" -> "str",
      "n_regionkey" -> "fixed"),
    "customer" -> Seq("c_custkey" -> "fixed", "c_name" -> "str",
      "c_nationkey" -> "fixed", "c_acctbal" -> "fixed", "c_mktsegment" -> "str"),
    "part" -> Seq("p_partkey" -> "fixed", "p_name" -> "str", "p_brand" -> "str",
      "p_type" -> "str", "p_size" -> "fixed", "p_retailprice" -> "fixed"),
    "orders" -> Seq("o_orderkey" -> "fixed", "o_custkey" -> "fixed",
      "o_orderstatus" -> "str", "o_totalprice" -> "fixed",
      "o_orderdate" -> "fixed", "o_orderpriority" -> "str"),
    "lineitem" -> Seq("l_orderkey" -> "fixed", "l_partkey" -> "fixed",
      "l_suppkey" -> "fixed", "l_linenumber" -> "fixed", "l_quantity" -> "fixed",
      "l_extendedprice" -> "fixed", "l_discount" -> "fixed", "l_tax" -> "fixed",
      "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "fixed"),
    "documents" -> Seq("doc_id" -> "fixed", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "fixed"),
    "embeddings" -> Seq("vec_id" -> "fixed", "embedding" -> "farr",
      "label" -> "fixed"))

  /** The joins this engine's own operators run — X130 audits exactly
    * these, making it the planner's join-strategy pre-flight rather
    * than a generic size profiler.
    */
  private[graft] val joinPairs: Seq[(String, String, String)] = Seq(
    ("customer_x_nation", "customer", "nation"),
    ("documents_x_embeddings", "documents", "embeddings"),
    ("lineitem_x_orders", "lineitem", "orders"),
    ("lineitem_x_part", "lineitem", "part"),
    ("nation_x_region", "nation", "region"),
    ("orders_x_customer", "orders", "customer"))

  /** Spark's default `spark.sql.autoBroadcastJoinThreshold`: the line
    * X130 audits each join's smaller side against.
    */
  private[graft] val broadcastThreshold: Long = 10L * 1024 * 1024

  /** The declared per-row byte MODEL (documented, not measured): the
    * Tungsten UnsafeRow estimate — 8 bytes per fixed-width slot
    * (long/int/double/timestamp all occupy one 8-byte word), 8 + len
    * per string (offset/length word + payload, characters standing in
    * for bytes — exact for this ASCII corpus, an underestimate under
    * multi-byte UTF-8), 8 + 4·n per float array, + 8 per row for the
    * null bitset word.
    */
  private[graft] def rowBytes(cols: Seq[(String, String)]): Column =
    cols.map {
      case (_, "fixed") => lit(8L)
      case (c, "str") => lit(8L) + coalesce(length(col(c)).cast("long"), lit(0L))
      case (c, _) => lit(8L) + lit(4L) * coalesce(size(col(c)).cast("long"), lit(0L))
    }.reduce(_ + _) + lit(8L)

  /** The ≤|tables| (table, rows, bytes) stats dictionary: ONE narrow
    * pass per table collapsed to a 1-row aggregate, unioned and
    * localCheckpointed — each table is scanned exactly once even when
    * it appears in several join pairs (lineitem is in two; without
    * the checkpoint each pair branch re-runs the scan — the
    * q_dedup_sweep lesson).
    */
  private[graft] def tableStats(s: SparkSession, dir: String): DataFrame =
    tableCatalog.map { case (t, cols) =>
      Tables(s, dir, t).agg(
        count(lit(1)).as("n"), sum(rowBytes(cols)).cast("long").as("b"))
        .select(lit(t).as("t"), col("n"), col("b"))
    }.reduce(_ unionByName _).localCheckpoint(true)

  /** X130 core — the join-strategy table off a (t, n, b) stats
    * dictionary. Factored with the threshold as a parameter so
    * ShuffleSpec can drive the sort-merge branch and both build-side
    * directions on fixtures (at the verification SFs every declared
    * pair's smaller side fits under 10 MiB — all-broadcast is the
    * honest pass state; at sf1 lineitem_x_orders flips to sort_merge).
    * Build side = the smaller-bytes side, ties to the right (the side
    * Spark prefers building); shuffle_bytes = both sides' payload when
    * the join must shuffle, 0 under broadcast.
    */
  private[graft] def joinPlanOf(
      stats: DataFrame, pairs: Seq[(String, String, String)], thr: Long): DataFrame = {
    val s = stats.sparkSession
    import s.implicits._
    val sl = stats.select(col("t").as("lt"), col("n").as("left_rows"),
      col("b").as("left_bytes"))
    val sr = stats.select(col("t").as("rt"), col("n").as("right_rows"),
      col("b").as("right_bytes"))
    pairs.toDF("join_name", "lt", "rt")
      .join(broadcast(sl), "lt").join(broadcast(sr), "rt")
      .withColumn("min_b", least(col("left_bytes"), col("right_bytes")))
      .select(
        col("join_name"),
        col("left_rows").cast("long").as("left_rows"),
        col("right_rows").cast("long").as("right_rows"),
        col("left_bytes"), col("right_bytes"),
        when(col("right_bytes") <= col("left_bytes"), lit("right"))
          .otherwise(lit("left")).as("build_side"),
        when(col("min_b") <= thr, lit(1L)).otherwise(lit(0L)).as("bcast"),
        when(col("min_b") <= thr, lit("broadcast_hash"))
          .otherwise(lit("sort_merge")).as("strategy"),
        when(col("min_b") <= thr, lit(0L))
          .otherwise(col("left_bytes") + col("right_bytes")).as("shuffle_bytes"))
      .orderBy("join_name")
  }

  /** X130 — join-strategy pre-flight (`q_join_plan`): for each join
    * this engine's operators run, the exact modeled payload bytes of
    * both sides, the build side a hash join would pick, whether the
    * smaller side clears Spark's 10 MiB autoBroadcast threshold, the
    * resulting strategy, and the bytes a shuffle would move if not.
    * X128 answers "will this shuffle straggle"; X130 answers "does
    * this join need to shuffle at all" — together the pre-flight a
    * planner runs before committing a 100 TB join.
    *
    * Scale: one narrow pass per table to a 1-row aggregate (map-side
    * partials), the ≤8-row checkpointed stats dictionary, then pure
    * dictionary joins — nothing corpus-sized survives the first agg.
    */
  private def joinPlan(s: SparkSession, dir: String): DataFrame =
    joinPlanOf(tableStats(s, dir), joinPairs, broadcastThreshold)

  private def joinPlanSql: String = {
    def bytesSql(cols: Seq[(String, String)]): String =
      cols.map {
        case (_, "fixed") => "8"
        case (c, "str") => s"8 + COALESCE(length($c), 0)"
        case (c, _) => s"8 + 4 * COALESCE(len($c), 0)"
      }.mkString(" + ") + " + 8"
    val st = tableCatalog.map { case (t, cols) =>
      s"""SELECT '$t' AS t, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(${bytesSql(cols)}) AS BIGINT) AS b FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    val pr = joinPairs.map { case (j, l, r) => s"('$j', '$l', '$r')" }
      .mkString(", ")
    s"""WITH st AS MATERIALIZED ($st),
       |pr(join_name, lt, rt) AS (VALUES $pr)
       |SELECT pr.join_name, sl.n AS left_rows, sr.n AS right_rows,
       |  sl.b AS left_bytes, sr.b AS right_bytes,
       |  CASE WHEN sr.b <= sl.b THEN 'right' ELSE 'left' END AS build_side,
       |  CAST(CASE WHEN least(sl.b, sr.b) <= $broadcastThreshold
       |       THEN 1 ELSE 0 END AS BIGINT) AS bcast,
       |  CASE WHEN least(sl.b, sr.b) <= $broadcastThreshold
       |       THEN 'broadcast_hash' ELSE 'sort_merge' END AS strategy,
       |  CAST(CASE WHEN least(sl.b, sr.b) <= $broadcastThreshold
       |       THEN 0 ELSE sl.b + sr.b END AS BIGINT) AS shuffle_bytes
       |FROM pr JOIN st sl ON sl.t = pr.lt JOIN st sr ON sr.t = pr.rt
       |ORDER BY join_name""".stripMargin
  }

  /** X139's declared sizing targets: Spark's default
    * `spark.sql.files.maxPartitionBytes` (128 MiB) for scan tasks and
    * a 64 MiB post-shuffle partition target (the AQE
    * `advisoryPartitionSizeInBytes` default).
    */
  private[graft] val scanTargetBytes: Long = 128L * 1024 * 1024
  private[graft] val shuffleTargetBytes: Long = 64L * 1024 * 1024

  /** X139 core — the partition-sizing table off a (t, n, b) stats
    * dictionary. Factored with the byte targets as parameters so
    * ShuffleSpec can drive the multi-task branch on a fixture (at the
    * verification SFs every table fits one task — the degenerate
    * pass state, like X130's all-broadcast).
    */
  private[graft] def partPlanOf(
      stats: DataFrame, scanTarget: Long, shuffleTarget: Long): DataFrame =
    stats.select(
      col("t").as("table_name"),
      col("n").cast("long").as("n_rows"),
      col("b").cast("long").as("bytes"),
      expr(s"CAST((b + ${scanTarget - 1}) DIV $scanTarget AS BIGINT)")
        .as("scan_tasks"),
      expr(s"CAST((b + ${shuffleTarget - 1}) DIV $shuffleTarget AS BIGINT)")
        .as("shuffle_parts"),
      expr(s"""CAST((n + (b + ${scanTarget - 1}) DIV $scanTarget - 1)
              |  DIV ((b + ${scanTarget - 1}) DIV $scanTarget) AS BIGINT)"""
        .stripMargin).as("rows_per_task"))
      .orderBy("table_name")

  /** X139 — partition-sizing pre-flight (`q_part_plan`): the third
    * member of the execution-hygiene trio — X128 asks "will this
    * shuffle straggle", X130 "must this join shuffle at all", X139
    * "how many pieces should the scan and the shuffle cut into".
    * Per table, under the declared byte model: modeled payload bytes,
    * scan tasks at the 128 MiB `maxPartitionBytes` default, the
    * post-shuffle partition count a 64 MiB advisory target implies
    * (what AQE coalesces toward — the number to compare against a
    * static `spark.sql.shuffle.partitions` before committing a
    * corpus-wide exchange), and rows per scan task. All ceiling
    * divisions, pure integer.
    *
    * Scale: reuses [[tableStats]] — one narrow pass per table to a
    * 1-row aggregate; the plan itself is arithmetic on the ≤8-row
    * checkpointed dictionary.
    */
  private def partPlan(s: SparkSession, dir: String): DataFrame =
    partPlanOf(tableStats(s, dir), scanTargetBytes, shuffleTargetBytes)

  private def partPlanSql: String = {
    def bytesSql(cols: Seq[(String, String)]): String =
      cols.map {
        case (_, "fixed") => "8"
        case (c, "str") => s"8 + COALESCE(length($c), 0)"
        case (c, _) => s"8 + 4 * COALESCE(len($c), 0)"
      }.mkString(" + ") + " + 8"
    val st = tableCatalog.map { case (t, cols) =>
      s"""SELECT '$t' AS t, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(${bytesSql(cols)}) AS BIGINT) AS b FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH st AS ($st)
       |SELECT t AS table_name, n AS n_rows, b AS bytes,
       |  CAST((b + ${scanTargetBytes - 1}) // $scanTargetBytes AS BIGINT) AS scan_tasks,
       |  CAST((b + ${shuffleTargetBytes - 1}) // $shuffleTargetBytes AS BIGINT) AS shuffle_parts,
       |  CAST((n + (b + ${scanTargetBytes - 1}) // $scanTargetBytes - 1)
       |       // ((b + ${scanTargetBytes - 1}) // $scanTargetBytes) AS BIGINT) AS rows_per_task
       |FROM st ORDER BY table_name""".stripMargin
  }

  /** X161 salt fan-out: 16-way — enough to spread an 80 %-hot key
    * across half the local[32] cores (and, at 100 TB, across 16
    * reducers instead of one straggler); the two-stage aggregate
    * re-collapses the fan-out, so the factor trades straggler depth
    * against (tiny-dim × salts) replication only.
    */
  private[graft] val saltFactor = 16

  /** X161's deliberately hot join key: 80 % of events land on key 0,
    * the rest spread over user_id mod 97 — the classic production
    * hot-key histogram (one viral entity plus a long tail), derived
    * deterministically so both engines state the same join.
    */
  private def hotKey: Column =
    when(col("user_id") % 10 < 8, lit(0L)).otherwise(col("user_id") % 97)

  /** X161's dimension side: keys 0–96 with a small derived weight —
    * the "entity attributes" table a real pipeline would join for.
    */
  private[graft] def saltDim(s: SparkSession): DataFrame =
    s.range(97).select(col("id").as("k"), (col("id") * col("id") % 7 + 1).as("w"))

  /** X161 — salted equi-join (`q_salted_join`): the hot-key
    * mitigation X128 recommends, executed as a first-class operator.
    * A shuffle join on [[hotKey]] sends ~80 % of the fact side to ONE
    * reducer — the one-straggler stage X128's skew audit flags (ratio
    * ~19x, far past [[skewThreshold]]). The mitigation: fact rows
    * carry salt = event_id mod [[saltFactor]], the (tiny) dim side is
    * replicated across all salts, the join key becomes (k, salt) —
    * spreading the hot key over [[saltFactor]] partitions — and a
    * TWO-STAGE aggregate ((k, salt) partials, then k) re-collapses
    * the fan-out. Results are provably identical to the plain join
    * (the DuckDB oracle STATES the plain join — the hash compare IS
    * the equivalence proof); ShuffleSpec additionally pins the
    * in-engine plain-join twin row-for-row and measures the spread:
    * the salted join's max per-partition row share drops from ~0.8
    * (one hot reducer) to ~1/[[saltFactor]] of the hot key.
    *
    * Both join sides carry merge hints: AUTO broadcast of the dim
    * would dissolve the shuffle this operator exists to manage (and
    * at 100 TB the dim side of a salted join is often itself too big
    * per-executor once replicated; SMJ is the honest default). AQE's
    * skew-join split rescues sort-merge JOINS at runtime, but the
    * salt pattern is the deterministic, plan-pinned form — and the
    * same two-stage shape is the ONLY fix where AQE cannot help
    * (stream-static joins, exact distinct aggregates on hot keys).
    * Measures are integer cents (round(value·100)), so sums are exact
    * on both engines.
    */
  private def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables(s, dir, "events").select(
      hotKey.as("k"),
      (col("event_id") % saltFactor).as("salt"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // salted dim from ONE range (97 × saltFactor rows) — a crossJoin
    // of two ranges would plan the CartesianProduct the surface-wide
    // plan audit bans
    val dim = s.range(97L * saltFactor).select(
      expr("id % 97").as("k"),
      expr("id DIV 97").as("salt"),
      expr("(id % 97) * (id % 97) % 7 + 1").as("w"))
    facts.hint("merge")
      .join(dim.hint("merge"), Seq("k", "salt"))
      .groupBy(col("k"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"), min(col("w")).as("pw"))
      .groupBy(col("k"))
      .agg(
        sum(col("pn")).cast("long").as("n_events"),
        sum(col("pc")).cast("long").as("cents_sum"),
        min(col("pw")).as("w"))
      .select(col("k"), col("w").cast("long").as("w"), col("n_events"),
        col("cents_sum"), (col("w") * col("cents_sum")).cast("long").as("weighted_cents"))
      .orderBy("k")
  }

  /** The unsalted twin — plain shuffle join + single-stage aggregate;
    * ShuffleSpec pins it row-for-row against the salted plan (the
    * in-engine equivalence the oracle proves cross-engine).
    */
  private[graft] def plainJoin(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(hotKey.as("k"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .hint("merge")
      .join(saltDim(s).hint("merge"), Seq("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("cents")).cast("long").as("cents_sum"),
        min(col("w")).as("w"))
      .select(col("k"), col("w").cast("long").as("w"), col("n_events"),
        col("cents_sum"), (col("w") * col("cents_sum")).cast("long").as("weighted_cents"))
      .orderBy("k")

  private val saltedJoinSql =
    """WITH dim AS (SELECT i AS k, i * i % 7 + 1 AS w FROM generate_series(0, 96) t(i)),
      |ev AS (
      |  SELECT CASE WHEN user_id % 10 < 8 THEN 0 ELSE user_id % 97 END AS k,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT e.k, CAST(d.w AS BIGINT) AS w,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(e.cents) AS BIGINT) AS cents_sum,
      |  CAST(d.w * sum(e.cents) AS BIGINT) AS weighted_cents
      |FROM ev e JOIN dim d USING (k)
      |GROUP BY e.k, d.w ORDER BY k""".stripMargin

  /** X165's audited join pairs: the Q3-style equi-joins this engine's
    * own relational queries run, plus a deliberate fan-out row (the
    * documents source self-join — Σ c(k)² blow-up) so the operator's
    * "this join will explode" verdict is live at every SF.
    */
  private[graft] val joinCardPairs: Seq[(String, String, String, String, String)] = Seq(
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("documents-self-source", "documents", "source", "documents", "source"),
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"))

  /** X165 — join-cardinality pre-flight (`q_join_card`): the output
    * size of an equi-join computed EXACTLY from the two key-count
    * dictionaries — |A ⋈ B| = Σ_k c_A(k)·c_B(k) — without ever
    * materializing the join. X130 models payload BYTES per side; this
    * prices the OUTPUT, the number that decides whether a join is
    * runnable at all (a fan-out join's output dwarfs both inputs —
    * the planted documents source self-join row reads exact_rows ≈
    * N²/|sources|, blowup ≫ 1). Beside the exact count: the textbook
    * CBO uniform estimate |A|·|B| / max(ndv_A, ndv_B) and its 4dp
    * error ratio — the operator doubles as an audit of the uniform
    * assumption on real key distributions (exact on the uniform
    * TPC-H keys, off on skew).
    *
    * Scale: per pair, two dictionary collapses (map-side partial
    * counts — the X128 shape, bounded by key cardinality, never
    * payload), one dictionary equi-join, three 1-row aggregates.
    * Products and sums run on DECIMAL(38,0) and clamp to
    * Long.MaxValue identically on both engines (the X159 rule: a
    * saturated reading means "at least this much"; the driver hash
    * rejects int128 outputs).
    */
  private def joinCard(s: SparkSession, dir: String): DataFrame =
    joinCardPairs.map { case (nm, lt, lk, rt, rk) =>
      if (lt == rt && lk == rk)
        // self-join pair: L and R are the SAME dictionary, so the
        // outer join degenerates to the identity (every key matches
        // itself, cl = cr) — one dictionary collapse and one 1-row
        // aggregate state the whole row (r21; provably equal: unique
        // keys ⇒ shared_keys = count, exact_d = Σ cl²)
        joinCardRowSelf(nm,
          Tables(s, dir, lt).select(col(lk).cast("string").as("k"))
            .groupBy("k").agg(count(lit(1)).as("cl")))
      else
        joinCardRow(nm,
          Tables(s, dir, lt).select(col(lk).cast("string").as("k"))
            .groupBy("k").agg(count(lit(1)).as("cl")),
          Tables(s, dir, rt).select(col(rk).cast("string").as("k"))
            .groupBy("k").agg(count(lit(1)).as("cr")))
    }.reduce(_ unionByName _).orderBy("join_name")

  /** [[joinCardRow]] for a table joined with itself on the same key:
    * the full-outer join of a unique-keyed dictionary with itself is
    * the dictionary (cl = cr on every row), so the statistics collapse
    * to one aggregate over one dictionary build. A NULL key never
    * matches itself, so it counts on both sides but not in
    * shared_keys or exact_d. ShuffleSpec pins this row-for-row against
    * the generic two-dictionary path.
    */
  private[graft] def joinCardRowSelf(nm: String, D: DataFrame): DataFrame = {
    val matched = when(col("k").isNotNull, col("cl"))
    joinCardFinish(
      D.agg(
        sum(col("cl")).as("l_rows"),
        count(col("cl")).as("l_keys"),
        sum(col("cl")).as("r_rows"),
        count(col("cl")).as("r_keys"),
        count(matched).as("shared_keys"),
        coalesce(sum(matched.cast("decimal(38,0)") * matched), lit(0))
          .cast("decimal(38,0)").as("exact_d")),
      nm)
  }

  /** One audit row off (k, cl) / (k, cr) dictionaries — factored so
    * ShuffleSpec can drive the uniform-assumption ERROR branch with a
    * planted zipf dictionary (the shipped tables' keys are uniform,
    * so err_ratio is honestly 1.0 on every declared row).
    */
  private[graft] def joinCardRow(nm: String, L: DataFrame, R: DataFrame): DataFrame = {
      // OPTIMIZATION r21 (guide §2.4 — remove shuffles outright): the
      // r20 shape computed THREE aggregates (lAgg, rAgg, xAgg) whose
      // plans each re-stated the dictionary subtrees, counting on
      // exchange reuse to share the scans — but under AQE replanning
      // the subtrees stopped matching (measured: 80 Exchange, ZERO
      // ReusedExchange in the before plan — every dictionary built
      // twice). A FULL OUTER join of the two dictionaries feeds every
      // statistic from ONE pass instead: both dictionaries are unique
      // per k (group-by outputs), so each L row and each R row appears
      // exactly once in the outer join, making sum/count(cl) ≡ lAgg,
      // sum/count(cr) ≡ rAgg, and the both-non-null count/product-sum
      // ≡ xAgg's inner join — bit-identical, oracle-checked. Each pair
      // now plans 2 dictionary collapses + 1 join + 1 one-row
      // aggregate (was 4 collapses + 1 join + 3 aggregates + 2
      // broadcast crossJoins).
      joinCardFinish(
        L.join(R, Seq("k"), "full_outer").agg(
          sum(col("cl")).as("l_rows"),
          count(col("cl")).as("l_keys"),
          sum(col("cr")).as("r_rows"),
          count(col("cr")).as("r_keys"),
          count(when(col("cl").isNotNull && col("cr").isNotNull, 1)).as("shared_keys"),
          coalesce(sum(expr("CAST(cl AS DECIMAL(38,0)) * cr")), lit(0))
            .cast("decimal(38,0)").as("exact_d")),
        nm)
  }

  /** The derived-column block shared by [[joinCardRow]] and
    * [[joinCardRowSelf]]: exact/estimated output rows, error ratio and
    * blowup off the 1-row (l_rows, l_keys, r_rows, r_keys,
    * shared_keys, exact_d) aggregate.
    */
  private def joinCardFinish(j: DataFrame, nm: String): DataFrame =
      j.select(
          lit(nm).as("join_name"),
          col("l_rows").cast("long").as("l_rows"),
          col("r_rows").cast("long").as("r_rows"),
          col("l_keys").cast("long").as("l_keys"),
          col("r_keys").cast("long").as("r_keys"),
          col("shared_keys").cast("long").as("shared_keys"),
          expr("""CAST(LEAST(exact_d, CAST(9223372036854775807 AS DECIMAL(38,0)))
                 |  AS BIGINT)""".stripMargin).as("exact_rows"),
          // Clamp the DECIMAL(38,0) product BEFORE the DIV (r19 ADVICE):
          // Spark's IntegralDivide returns BIGINT and a quotient above
          // Long.MaxValue yields NULL (non-ANSI), while DuckDB's
          // HUGEINT // keeps the true quotient for LEAST to clamp.
          // min(prod, MAX*gk) DIV gk == min(prod DIV gk, MAX) exactly,
          // so the pre-clamp saturates instead of NULLing — the same
          // pattern pair_volume uses in Dedup.shingleDfOf. The twin's
          // inner quotient is LEAST-clamped to the same bound.
          expr("""CAST(LEAST(CAST(l_rows AS DECIMAL(38,0)) * r_rows,
                 |    CAST(9223372036854775807 AS DECIMAL(38,0)) * greatest(l_keys, r_keys))
                 |  DIV greatest(l_keys, r_keys) AS BIGINT)""".stripMargin)
            .as("uniform_est"),
          (expr("""CAST(CASE WHEN exact_d = 0 THEN 0 ELSE LEAST(
                  |  (20000 * CAST(LEAST(CAST(l_rows AS DECIMAL(38,0)) * r_rows,
                  |       CAST(9223372036854775807 AS DECIMAL(38,0)) * greatest(l_keys, r_keys))
                  |     DIV greatest(l_keys, r_keys) AS DECIMAL(38,0)) + exact_d)
                  |  DIV (2 * exact_d),
                  |  CAST(9223372036854775807 AS DECIMAL(38,0))) END AS BIGINT)""".stripMargin)
            / lit(10000.0)).as("err_ratio"),
          (expr("""CAST(LEAST((20000 * exact_d + greatest(l_rows, r_rows))
                  |  DIV (2 * greatest(l_rows, r_rows)),
                  |  CAST(9223372036854775807 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
            / lit(10000.0)).as("blowup"))

  private def joinCardSql: String =
    joinCardPairs.map { case (nm, lt, lk, rt, rk) =>
      s"""SELECT '$nm' AS join_name,
         |  CAST(a.l_rows AS BIGINT) AS l_rows, CAST(b.r_rows AS BIGINT) AS r_rows,
         |  CAST(a.l_keys AS BIGINT) AS l_keys, CAST(b.r_keys AS BIGINT) AS r_keys,
         |  CAST(c.shared_keys AS BIGINT) AS shared_keys,
         |  CAST(LEAST(c.exact_d, 9223372036854775807::HUGEINT) AS BIGINT) AS exact_rows,
         |  CAST(LEAST(CAST(a.l_rows AS HUGEINT) * b.r_rows
         |      // greatest(a.l_keys, b.r_keys),
         |    9223372036854775807::HUGEINT) AS BIGINT) AS uniform_est,
         |  CAST(CASE WHEN c.exact_d = 0 THEN 0 ELSE LEAST(
         |    (20000 * LEAST(CAST(a.l_rows AS HUGEINT) * b.r_rows
         |         // greatest(a.l_keys, b.r_keys),
         |       9223372036854775807::HUGEINT) + c.exact_d) // (2 * c.exact_d),
         |    9223372036854775807::HUGEINT) END AS BIGINT) / 10000.0 AS err_ratio,
         |  CAST(LEAST((20000 * c.exact_d + greatest(a.l_rows, b.r_rows))
         |      // (2 * greatest(a.l_rows, b.r_rows)),
         |    9223372036854775807::HUGEINT) AS BIGINT) / 10000.0 AS blowup
         |FROM
         |  (SELECT sum(cl) AS l_rows, count(*) AS l_keys FROM
         |    (SELECT CAST($lk AS VARCHAR) AS k, count(*) AS cl FROM $lt GROUP BY 1)) a,
         |  (SELECT sum(cr) AS r_rows, count(*) AS r_keys FROM
         |    (SELECT CAST($rk AS VARCHAR) AS k, count(*) AS cr FROM $rt GROUP BY 1)) b,
         |  (SELECT count(*) AS shared_keys,
         |     COALESCE(sum(CAST(x.cl AS HUGEINT) * y.cr), 0) AS exact_d FROM
         |    (SELECT CAST($lk AS VARCHAR) AS k, count(*) AS cl FROM $lt GROUP BY 1) x
         |    JOIN (SELECT CAST($rk AS VARCHAR) AS k, count(*) AS cr FROM $rt GROUP BY 1) y
         |    USING (k)) c""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY join_name")

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_join_card" -> QueryDef(
      joinCard,
      Some(joinCardSql),
      "X165 join-cardinality pre-flight: exact equi-join output size from key dictionaries + uniform-CBO error audit"),
    "q_salted_join" -> QueryDef(
      saltedJoin,
      Some(saltedJoinSql),
      "X161 salted hot-key equi-join: (k, salt) fan-out + two-stage re-collapse, oracle-equal to the plain join"),
    "q_key_skew" -> QueryDef(
      keySkew,
      Some(skewFamilies.map { case (t, k) => skewSql(t, k) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY key_name")),
      "X128 shuffle-key skew audit: per hot-key family, exact skew ratio + salt recommendation"),
    "q_join_plan" -> QueryDef(
      joinPlan,
      Some(joinPlanSql),
      "X130 join-strategy pre-flight: modeled payload bytes per side, build side, broadcast verdict"),
    "q_part_plan" -> QueryDef(
      partPlan,
      Some(partPlanSql),
      "X139 partition-sizing pre-flight: scan tasks, advisory shuffle partitions, rows per task"))
}
