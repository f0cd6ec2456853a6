package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** General relational surface (SURVEY.md §2.4, R1–R12). The reference
  * gateway has no query surface at all — these are the EXT obligations
  * that make the engine "query-capable". All pure built-in DataFrame
  * ops: Catalyst handles pushdown, pruning, and join-strategy choice.
  *
  * Scale notes (100 TB):
  *  - dims (region/nation/customer/supplier/part) stay broadcast-able
  *    far beyond these SFs; fact-fact joins (orders⋈lineitem) shuffle
  *    on the join key — at 100 TB both sides would be bucketed on
  *    orderkey so the shuffle disappears.
  *  - every aggregate here has map-side partial aggregation for free
  *    (HashAggregate partial → shuffle → final).
  *  - top-K uses TakeOrderedAndProject (no global sort materialized).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** R1 — multi-way inner equi-join, revenue rollup per region/nation.
    * nation/region are tiny → Catalyst broadcasts them; orders⋈customer
    * is the only real shuffle.
    */
  private def joinInner(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** R2 — left outer join + null handling: per-nation customer/order
    * counts including customers with no orders.
    */
  private def joinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_nationkey"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).cast("long").as("n_no_orders"))
      .orderBy("c_nationkey")
  }

  /** R3 — left semi join (EXISTS): customers holding a big order. */
  private def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** R4 — left anti join (NOT EXISTS): customers with no order above
    * 300k. The filter (not plain "no orders") keeps the anti set
    * non-empty at sf0.01 — 30 rows — so the hash check is non-vacuous
    * (VERDICT r1 "What's wrong" #2: every sf0.01 customer has at least
    * one order, making the unfiltered anti join a 0-row vacuous pass).
    */
  private def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"), round(col("c_acctbal"), 4).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** R18 — full outer join: reconcile per-user event activity against
    * the BUILDING segment's account list. Both null sides are
    * non-vacuous at every SF by construction (event users span ~10 %
    * of the customer key range; BUILDING is ~20 % of customers), so
    * the hash check exercises left-only, right-only, and matched rows.
    * Catalyst plans a shuffled SMJ (full outer cannot broadcast); both
    * inputs are pre-aggregated/filtered so the shuffle carries keys,
    * not raw events.
    */
  private def joinFull(s: SparkSession, dir: String): DataFrame = {
    val act = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val seg = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
    act.join(seg, col("user_id") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("user_id"), col("c_custkey")).as("key"),
        col("n_events"),
        col("acctbal"),
        when(col("user_id").isNull, lit("inactive_account"))
          .when(col("c_custkey").isNull, lit("unmatched_user"))
          .otherwise(lit("both")).as("side"))
      .orderBy("key")
  }

  /** R19 — deterministic group string aggregation (LISTAGG): the
    * sorted distinct priorities each customer has ordered at.
    * `collect_set` alone is partition-order-nondeterministic —
    * `array_sort` before the join is what makes the result (and the
    * cross-engine hash) stable; per-customer sets are genuinely
    * varied (~10 orders over 5 priorities). Key-bounded to keep the
    * declared output small; the aggregate itself is one hash agg with
    * map-side partials.
    */
  private def stringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_custkey") < 300)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), "|").as("priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  /** R20 — correlated aggregate comparison (the classic
    * `WHERE price > (SELECT avg(...) WHERE same customer)` shape),
    * decorrelated to one window over the customer key. The comparison
    * is integer-exact by cross-multiplication in CENTS
    * (`cents·n > Σcents` ⇔ `price > avg`): comparing against a FLOAT
    * group mean is the textbook cross-engine flake (each engine sums
    * in its own order), and no rounding can paper over a row that
    * flips sides of the filter. The output carries the exact integer
    * ingredients (Σcents, n) rather than a derived mean: a mean is an
    * 800-denominator rational here, which lands on genuine half-way
    * rounding boundaries (…70375 measured at sf0.01) that Spark's
    * BigDecimal HALF_UP and DuckDB's double rounding resolve
    * differently — exact integers cannot.
    */
  private def aboveAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .withColumn("sum_c", sum(col("cents")).over(w))
      .withColumn("n_c", count(lit(1)).over(w))
      .filter(col("cents") * col("n_c") > col("sum_c"))
      .select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"),
        col("n_c").as("n_orders"),
        col("sum_c").as("sum_cents"))
      .orderBy("o_orderkey")
  }

  /** R22 — inter-arrival gap analysis: per-user event-rate health
    * (the batch analog of the gateway's per-node `period`/rate
    * monitoring — a silent node shows up as a huge `max_gap_us`).
    * One `lag` window over (user_id → us, event_id), then a per-user
    * aggregate: the groupBy key equals the window partition key, so
    * the window's hash exchange already co-locates the groups and
    * EnsureRequirements inserts no second shuffle (same single-shuffle
    * shape SessionsSpec pins for R17). All measures are integer
    * microseconds — no float drift surface at all. Single-event users
    * keep NULL gap stats (count 0): DuckDB and Spark agree that
    * sum/min/max over zero non-null rows is NULL.
    */
  private def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"),
        sum(col("gap")).as("sum_gap_us"))
      .orderBy("user_id")
  }

  /** R27 debounce tolerance: 900 s in microseconds. Sized so both
    * branches are heavily exercised at the test SFs (median per-type
    * gap ≈ 892 s at sf0.01 — roughly half the stream suppresses).
    */
  private[graft] val debounceUs = 900000000L

  /** R27 — duplicate-burst suppression (`q_debounce`): keep an event
    * iff it is the type's first, or arrived more than [[debounceUs]]
    * after the PREVIOUS event of its type — the relational form of
    * the reference gateway's repeated-frame discard (a sensor that
    * re-sends its reading every few seconds should not multiply
    * downstream rows). Gap-from-previous-EVENT (debounce) semantics,
    * deliberately: gap-from-previous-KEPT is a sequential recurrence
    * no window function expresses — the streaming engine's
    * per-key state handles that shape instead
    * ([[graft.streaming.Gateway]]'s exact-dedup feed covers the
    * key-identity variant).
    *
    * One type-keyed lag window (the R22 shape — per-type volume is
    * time-bounded, no skew), then a filter; emits the kept rows with
    * their suppression evidence (the gap, −1 for each type's first).
    */
  private def debounce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNull || col("gap_us") > debounceUs)
      .select(col("event_id"), col("event_type"), col("us"),
        coalesce(col("gap_us"), lit(-1L)).as("prev_gap_us"))
      .orderBy("event_id")
  }

  private def debounceSql: String =
    s"""WITH g AS (
       |  SELECT event_id, event_type, epoch_us(ts) AS us,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |      PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS gap_us
       |  FROM events)
       |SELECT event_id, event_type, us,
       |  CAST(COALESCE(gap_us, -1) AS BIGINT) AS prev_gap_us
       |FROM g WHERE gap_us IS NULL OR gap_us > $debounceUs
       |ORDER BY event_id""".stripMargin

  /** R28 conversion window: 24 h in microseconds — the product-
    * analytics default. Sized so every funnel branch is live at both
    * test SFs (depths 1, 2 and 3 all occur; an UNwindowed funnel is
    * vacuous here — every user eventually clicks and purchases, so
    * all 150 users reached depth 3 and no constraint was tested).
    */
  private[graft] val funnelWindowUs = 86400000000L

  /** R28 — windowed-funnel analysis (`q_funnel`): per user, the
    * earliest `view`, the earliest `click` strictly after that view
    * AND within [[funnelWindowUs]] of it, and the earliest `purchase`
    * under the same constraint relative to the click — the
    * product-analytics staple (Amplitude/Mixpanel's conversion
    * funnel) as three chained order-and-window-constrained minima,
    * with each user's reached depth. Absent stages carry −1 (never
    * NULL in a sort-adjacent column — the R25 rule); a later-stage
    * event before the anchor or past the window does not count,
    * which is what separates a funnel from three independent mins.
    *
    * Scale shape: three narrow filtered aggregates (each a user-keyed
    * min with map-side partials — the corpus collapses to ǀusersǀ
    * rows before any join) chained by user-keyed equi-joins, then one
    * left-join assembly onto the distinct-user spine. No window
    * function, no self-join of raw events; per-stage state is one
    * timestamp per user, the same bound a streaming funnel would
    * hold.
    */
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + funnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + funnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    e.select(col("user_id")).distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("t1"), lit(-1L)).as("t_view"),
        coalesce(col("t2"), lit(-1L)).as("t_click"),
        coalesce(col("t3"), lit(-1L)).as("t_purchase"),
        (col("t1").isNotNull.cast("long") + col("t2").isNotNull.cast("long")
          + col("t3").isNotNull.cast("long")).as("depth"))
      .orderBy("user_id")
  }

  private def funnelSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.us) AS t2
      |  FROM e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.us > v.t1
      |    AND e.us <= v.t1 + $funnelWindowUs GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.us) AS t3
      |  FROM e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us > c.t2
      |    AND e.us <= c.t2 + $funnelWindowUs GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id,
      |  CAST(COALESCE(v.t1, -1) AS BIGINT) AS t_view,
      |  CAST(COALESCE(c.t2, -1) AS BIGINT) AS t_click,
      |  CAST(COALESCE(p.t3, -1) AS BIGINT) AS t_purchase,
      |  CAST((CASE WHEN v.t1 IS NULL THEN 0 ELSE 1 END)
      |     + (CASE WHEN c.t2 IS NULL THEN 0 ELSE 1 END)
      |     + (CASE WHEN p.t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS depth
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |LEFT JOIN p USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  /** R29 — cohort retention (`q_retention`): the other half of the
    * product-analytics pair with R28 — group users into DAILY
    * cohorts by their FIRST `signup` event, then for each (cohort
    * day, day offset ≥ 0) count how many of the cohort were active
    * (any event) that day, as an exact integer matrix plus a round-4
    * retention percentage. Offset 0 is 100% by construction (the
    * signup itself is day-0 activity) and later cells DECAY — both
    * pinned; the grain matters: at this corpus's density a weekly
    * matrix is all-100% and discriminates nothing (measured before
    * choosing daily).
    *
    * Days are integer epoch-µs div 86400·10⁶ — no calendar library,
    * identical arithmetic in both engines. Scale shape: one
    * user-keyed min for cohorts (map-side partials), one distinct
    * (user, day) activity collapse, a user-keyed equi-join, then the
    * ≤ǀdaysǀ² matrix rollup joined to ≤ǀdaysǀ cohort sizes — the
    * corpus collapses to user/day grain before any join; no window
    * function anywhere.
    */
  private def retention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(expr("us div 86400000000")).as("cw"))
    val active = e.select(col("user_id"), expr("us div 86400000000").as("aw")).distinct()
    val mat = active.join(cohort, "user_id")
      .filter(col("aw") >= col("cw"))
      .groupBy(col("cw"), (col("aw") - col("cw")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
    mat.join(sizes, "cw")
      .select(col("cw").cast("long").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"),
        col("n_active").cast("long").as("n_active"),
        col("n_cohort").cast("long").as("n_cohort"),
        Extensions.share4("100 * n_active", "n_cohort").as("retention_pct"))
      .orderBy("cohort_day", "day_offset")
  }

  private def retentionSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |cohort AS (
      |  SELECT user_id, min(us // 86400000000) AS cw
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, us // 86400000000 AS aw FROM e),
      |mat AS (
      |  SELECT c.cw, a.aw - c.cw AS day_offset,
      |    count(DISTINCT a.user_id) AS n_active
      |  FROM active a JOIN cohort c USING (user_id)
      |  WHERE a.aw >= c.cw GROUP BY c.cw, a.aw - c.cw),
      |sizes AS (SELECT cw, count(*) AS n_cohort FROM cohort GROUP BY cw)
      |SELECT CAST(m.cw AS BIGINT) AS cohort_day,
      |  CAST(m.day_offset AS BIGINT) AS day_offset,
      |  CAST(m.n_active AS BIGINT) AS n_active,
      |  CAST(s.n_cohort AS BIGINT) AS n_cohort,
      |  CAST((2000000 * m.n_active + s.n_cohort) // (2 * s.n_cohort) AS BIGINT) / 10000.0
      |    AS retention_pct
      |FROM mat m JOIN sizes s USING (cw)
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** R25 — time-grid resampling with forward fill (gap-fill): each
    * user's irregular event stream regularized onto a 6-hour grid
    * spanning their activity, each grid instant carrying the value of
    * the last reading at-or-before it — the downsampling/gap-fill
    * step every sensor pipeline (and the reference's emoncms
    * consumers) runs before charting or joining feeds; a grid instant
    * before the first reading keeps NULL (no reading exists yet — an
    * honest gap, not an extrapolation).
    *
    * Mechanics: per-user span aggregate → `sequence()` explode builds
    * the grid (narrow); grid instants union with readings, tagged, and
    * ONE user-keyed running `last(value, ignoreNulls)` window fills
    * forward. Determinism: readings at exactly the grid instant sort
    * BEFORE it (is_grid tie-key) so "at-or-before" includes them;
    * same-timestamp readings resolve by event_id (last wins); grid
    * rows carry event_id −1 so no NULL ever enters the sort key
    * (Spark and DuckDB default NULL orderings differ).
    *
    * Scale shape (100 TB): every stage is user-keyed — the span
    * aggregate has map-side partials, the fill window partitions by
    * user (thousands of rows each, never a corpus sort), and the
    * grid explode is bounded by span/step per user. No broadcast, no
    * skewable key (per-user activity is bounded by time), output is
    * |users| × span/step — the DOWNSAMPLED size, which is the point.
    */
  private def resample(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val grid = e.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("INTERVAL 6 HOURS"))).as("ots"))
    val u = e
      .select(col("user_id"), col("ts").as("ots"), lit(0).as("is_grid"),
        col("event_id"), col("value"))
      .unionByName(grid.select(col("user_id"), col("ots"), lit(1).as("is_grid"),
        lit(-1L).as("event_id"), lit(null).cast("double").as("value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ots"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("fill", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("ots").as("grid_ts"), round(col("fill"), 4).as("value"))
      .orderBy("user_id", "grid_ts")
  }

  /** R26 — latest-reading snapshot: each user's most recent event
    * (timestamp, event id, value) — the "current feed values" state
    * the reference's emoncms consumers hold, as a query. The scale
    * point is the SHAPE: latest-per-key is an argmax AGGREGATE
    * (`max_by` over the (time, id) order key — map-side partials, one
    * bounded shuffle of one row per key), NOT the `row_number() = 1`
    * window the textbook states — a window must materialize and sort
    * every key's full history; the aggregate carries one running
    * winner. The oracle states the window form, so every verify run
    * pins aggregate ≡ window. Ties on timestamp resolve by event_id
    * through the same composite key (struct ordering is
    * lexicographic in both engines' forms).
    */
  private def latest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("us"), col("event_id"))).as("k"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("v"))
      .select(
        col("user_id"),
        col("k.us").as("last_us"),
        col("k.event_id").as("last_event_id"),
        round(col("v"), 4).as("last_value"))
      .orderBy("user_id")

  /** R23 — composed multi-join top-K (the TPC-H Q3 shape): revenue of
    * the 10 biggest not-yet-shipped BUILDING-segment orders. The point
    * of the row is join ORDERING under selective filters: both date
    * predicates and the segment filter push to the parquet scans
    * (pruned before any join), customer⋈orders shuffles on custkey,
    * then orders⋈lineitem on orderkey — at 100 TB both fact sides are
    * bucketed on orderkey so the second exchange disappears, and the
    * filtered customer side stays auto-broadcastable (no hint: the
    * segment is ~20 % of customers, corpus-proportional, so the
    * planner must be free to retract). Revenue is integer-exact in
    * 10⁻⁴ currency units (`cents · (100 − disc_pct)` — the R20
    * cross-engine discipline; a float `sum(ep·(1−disc))` ranks
    * differently per engine near ties). Top-10 plans as
    * TakeOrderedAndProject: per-partition bounded heaps, no global
    * sort.
    */
  private def revenueTop(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select(
        col("l_orderkey"),
        (round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("rev_e4"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_e4").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** R5 — TPC-H Q1-shaped multi-measure hash aggregate. */
  private def aggQ1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** R6 — distinct aggregate per market segment. */
  private def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        // sum, not avg: avg of 2-decimal money over counts like 40/400
        // lands on an exact 0.00025 grid → systematic half-way ties at
        // 4 dp where Spark (HALF_UP on shortest repr) and DuckDB (binary
        // round) disagree. Sums of 2-decimal values have no 4-dp tie.
        round(sum(col("c_acctbal")), 4).as("sum_bal"))
      .orderBy("c_mktsegment")

  /** R7 — ROLLUP with grouping_id; rollup NULLs coalesced to a
    * sentinel so the hash never sees engine-specific NULL ordering.
    */
  private def aggRollup(s: SparkSession, dir: String): DataFrame =
    orderSetTotals(t(s, dir, "orders").rollup(col("o_orderstatus"), col("o_orderpriority")))

  /** The tail R7/R15/R24 share: per grouping set the order count, the
    * 4-dp price total and the grouping_id; NULL set keys coalesced to
    * the `(all)` sentinel, then a total order.
    */
  private def orderSetTotals(g: RelationalGroupedDataset): DataFrame =
    g.agg(
      count(lit(1)).as("n"),
      round(sum(col("o_totalprice")), 4).as("total"),
      grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total"), col("gid"))
      .orderBy("gid", "status", "priority")

  /** R8 — ranking window: top-3 customers by balance per nation. */
  private def winRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(
        col("c_nationkey"), col("c_custkey"),
        round(col("c_acctbal"), 4).as("c_acctbal"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("c_nationkey", "rnk", "c_custkey")
  }

  /** R9 — running-frame window: cumulative spend per customer. */
  private def winRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running", round(sum(col("o_totalprice")).over(w), 4))
      .select(col("o_custkey"), col("o_orderkey"), col("running"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** R30 — distribution windows (`q_win_dist`): the analytic trio the
    * surface was missing next to R8's rank — percent_rank, cume_dist
    * and NTILE quartiles per nation over account balance. Both
    * relative ranks are emitted by the INTEGER-space 4dp formula
    * ((20000·num + den) div (2·den)) off exact integer rank/count
    * numerators — rank−1 over n−1 for percent_rank (single-row
    * groups defined 0), the RANGE-frame peer-inclusive count over n
    * for cume_dist — so the doubles are engine-portable by
    * construction, not by shared-IEEE luck; NTILE runs under the
    * total order (acctbal, custkey), where the SQL-standard bucket
    * formula is deterministic on both engines.
    *
    * Scale shape: one shuffle on the partition key, windows over
    * nation-sized partitions (bounded by the dimension's
    * cardinality, not the corpus — the R8 class).
    */
  private def winDist(s: SparkSession, dir: String): DataFrame = {
    val byBal = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc)
    val peers = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy(col("c_nationkey"))
    val byBalKey = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    t(s, dir, "customer")
      .withColumn("rnk", rank().over(byBal))
      .withColumn("cd_num", count(lit(1)).over(peers))
      .withColumn("n", count(lit(1)).over(total))
      .withColumn("quartile", ntile(4).over(byBalKey).cast("long"))
      .select(
        col("c_nationkey"), col("c_custkey"),
        round(col("c_acctbal"), 4).as("c_acctbal"),
        Extensions.share4("rnk - 1", "n - 1").as("pct_rank"),
        Extensions.share4("cd_num", "n").as("cume"),
        col("quartile"))
      .orderBy("c_nationkey", "c_custkey")
  }

  private def winDistSql: String =
    """WITH w AS (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rnk,
      |    count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd_num,
      |    count(*) OVER (PARTITION BY c_nationkey) AS n,
      |    ntile(4) OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal, c_custkey) AS quartile
      |  FROM customer)
      |SELECT c_nationkey, c_custkey, round(c_acctbal, 4) AS c_acctbal,
      |  CASE WHEN n = 1 THEN 0.0 ELSE
      |    CAST((20000 * (rnk - 1) + (n - 1)) // (2 * (n - 1)) AS BIGINT) / 10000.0
      |  END AS pct_rank,
      |  CAST((20000 * cd_num + n) // (2 * n) AS BIGINT) / 10000.0 AS cume,
      |  CAST(quartile AS BIGINT) AS quartile
      |FROM w ORDER BY c_nationkey, c_custkey""".stripMargin

  /** R10 — top-K: TakeOrderedAndProject, no global sort materialized. */
  private def topK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))

  /** R11 — set ops composed: (FURNITURE ∪ BUILDING) ∩ has-big-order,
    * minus has-F-status-order. INTERSECT/EXCEPT are set-semantics in
    * both engines; parenthesization matters in DuckDB (SURVEY §7.3).
    */
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val furn = c.filter(col("c_mktsegment") === "FURNITURE").select(col("c_custkey").as("k"))
    val bld = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val big = o.filter(col("o_totalprice") > 50000.0).select(col("o_custkey").as("k"))
    val fstat = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
    furn.union(bld).intersect(big).except(fstat).orderBy("k")
  }

  /** R12 — scalar string/date/math functions over orders. Explicit
    * BIGINT casts everywhere DuckDB's default width differs.
    */
  private def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_up"),
        substring(col("o_orderpriority"), 1, 3).as("pri_pre"),
        length(col("o_orderpriority")).cast("long").as("pri_len"),
        concat(col("o_orderstatus"), lit(":"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        // round at 4 dp, not 2: price*1.1 has exactly 3 decimal digits, so
        // a 2-dp round hits constant half-way ties where Spark (rounds the
        // shortest decimal repr, HALF_UP) and DuckDB (rounds the binary
        // double) disagree; at 4 dp there is no tie to break.
        round(col("o_totalprice") * 1.1, 4).as("uplift"),
        floor(col("o_totalprice")).cast("long").as("fl"),
        abs(col("o_totalprice") - 100000.0).cast("double").as("dist"),
        (col("o_orderkey") % 7).cast("long").as("m7"))
      .orderBy("o_orderkey")

  /** R13 — as-of join: for every event, the nearest-earlier error
    * event of the same user ("time since last error"). Spark has no
    * native as-of join; the scalable shape is NOT a range join
    * (quadratic per key) but the union+window trick: tag error rows,
    * interleave them with probe rows in one (user, time) ordering, and
    * carry the last error forward with `last(_, ignoreNulls)` — a
    * single shuffle on user_id, linear in rows, the same plan an
    * ORDER-BY-merge as-of would produce. Ties (a probe that IS an
    * error) sort the error first, matching DuckDB ASOF's `>=` bound.
    * Events before their user's first error drop (inner as-of).
    *
    * The error side is pre-aggregated to one row per (user_id, ts) —
    * min(event_id) as the representative — because an as-of join
    * against duplicate build-side keys is ill-defined: DuckDB ASOF
    * would pick an arbitrary duplicate while the window picks a
    * deterministic one. The pre-aggregation makes the match unique in
    * BOTH engines, so parity holds on any data, not just data that
    * happens to have unique (user, ts) error instants.
    */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val probes = e.select(
      col("user_id"), col("ts"), col("event_id"),
      lit(1).as("is_probe"),
      lit(null).cast("long").as("err_id"))
    val errs = e.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("event_id"))
      .select(
        col("user_id"), col("ts"), col("event_id"),
        lit(0).as("is_probe"),
        col("event_id").as("err_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_probe").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionByName(errs)
      .withColumn("last_error_id", last(col("err_id"), ignoreNulls = true).over(w))
      .withColumn("last_error_us",
        last(when(col("err_id").isNotNull, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1 && col("last_error_id").isNotNull)
      .select(
        col("event_id"),
        col("last_error_id"),
        (unix_micros(col("ts")) - col("last_error_us")).cast("long").as("us_since_error"))
      .orderBy("event_id")
  }

  /** R21 range-join bin width == window length (24 h in µs), so every
    * window spans at most two bins. */
  private val rjWindowUs: Long = 86400L * 1000000L

  /** R21 — range / interval join: count each user's events inside the
    * 24 h window opened by every high-value "alert" event (value >
    * 300) — the "events in interval" shape (sensor readings during a
    * maintenance window, sessions overlapping an incident) that SQL
    * states as a non-equi `BETWEEN` join.
    *
    * Spark has no native range-join optimization: the naive
    * `a.join(e, e.t >= a.t0 && e.t < a.t0 + W)` has no equi-key, so
    * Catalyst plans BroadcastNestedLoopJoin — O(|alerts|·|events|)
    * comparisons, THE classic 100 TB range-join killer. The standard
    * fix, implemented here, is binning: quantize time into
    * window-length bins, explode each interval to the ≤2 bins it
    * overlaps, and equi-join on (user_id, bin) — Catalyst then plans
    * a plain hash/SMJ shuffle join whose volume is (events × ≤1
    * matching bin row per interval overlap), with the exact `BETWEEN`
    * predicate as a residual filter. Each qualifying (alert, event)
    * pair matches in EXACTLY one bin — the event's own — so no
    * post-join dedup is needed. Everything is integer µs arithmetic.
    *
    * No broadcast hint on the alert side: its size is
    * selectivity-dependent, so the size-based planner decides
    * (broadcast at these SFs, shuffle join when alerts are huge) —
    * the retractable choice a hint would destroy. PlanAuditSpec pins
    * the no-BNLJ shape.
    */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
    val alerts = e.filter(col("value") > 300)
      .select(
        col("event_id"), col("user_id"), col("t").as("t0"),
        explode(array_distinct(array(
          expr(s"t div $rjWindowUs"),
          expr(s"(t + ${rjWindowUs - 1}) div $rjWindowUs")))).as("bin"))
    val binned = e.select(
      col("user_id").as("e_user"), col("t"), expr(s"t div $rjWindowUs").as("bin"))
    alerts
      .join(binned,
        col("e_user") === col("user_id") && binned("bin") === alerts("bin") &&
          col("t") >= col("t0") && col("t") < col("t0") + rjWindowUs)
      .groupBy(col("event_id"), col("user_id"), col("t0"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("event_id"), col("user_id"),
        col("t0").cast("long").as("t0_us"),
        col("n_events").cast("long").as("n_events"))
      .orderBy("event_id")
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** R14 — pivot: per-user event counts spread over a fixed column
    * set. Spark's `pivot` with explicit values stays a single hash
    * aggregate (no extra pass to discover values — the form that
    * scales); absent combinations surface as null → coalesced to 0.
    */
  private def pivotCounts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +: eventTypes.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
      .orderBy("user_id")

  /** R15 — CUBE: all grouping-set combinations (rollup's superset). */
  private def aggCube(s: SparkSession, dir: String): DataFrame =
    orderSetTotals(t(s, dir, "orders").cube(col("o_orderstatus"), col("o_orderpriority")))

  /** R24 — explicit GROUPING SETS: independent per-dimension totals
    * {(status), (priority), ()} — the marginals-only shape neither
    * ROLLUP (prefix-hierarchical) nor CUBE (every combination, so 4
    * sets including the pair) expresses. One Expand-based aggregate:
    * each input row fans to its 3 grouping projections map-side, so
    * the shuffle carries (set, key) partials, never a second scan
    * per set — the same single-pass property R7/R15 rely on.
    * Determinism discipline identical to those rows (coalesced
    * sentinel keys + grouping_id in the total order).
    */
  private def aggGroupingSets(s: SparkSession, dir: String): DataFrame =
    orderSetTotals(t(s, dir, "orders").groupingSets(
      Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
      col("o_orderstatus"), col("o_orderpriority")))

  /** R16 — exact interpolated quantiles (both engines: linear
    * interpolation over the sorted set; approximate sketches have no
    * cross-engine parity, so the exact form is the declared one).
    */
  private def quantiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** R16-scale — the sketch path for the same quantiles: Spark's
    * built-in `approx_percentile` (a Greenwald–Khanna summary: fixed
    * memory per group, mergeable map-side partials). At 100 TB the
    * exact `percentile` above materializes every value per group into
    * the aggregation buffer, which is the one shape that cannot hold;
    * this is the production form. Sketch outputs have no cross-engine
    * parity (DuckDB's reservoir `approx_quantile` is a different
    * algorithm), so this is ScalaTest-verified against the exact path
    * with the sketch's own rank-error guarantee (QuantileSketchSpec)
    * rather than oracle-declared — the documented R16 constraint.
    *
    * @param accuracy 1/ε of the GK summary: rank error ≤ n/accuracy.
    */
  private[graft] def quantilesApprox(s: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** R6's 100 TB path, same contract as [[quantilesApprox]]: exact
    * `countDistinct` rewrites to an Expand + two-level aggregate whose
    * first-level state is one row per distinct value — fine until the
    * distinct domain itself is huge. `approx_count_distinct` is the
    * HyperLogLog++ form: fixed ~1.5 KB of buckets per group at the
    * default 5 % rsd, mergeable map-side partials, one shuffle of
    * sketch buffers instead of the value domain. Sketches have no
    * cross-engine parity (DuckDB's approx_distinct is its own HLL
    * build), so this is ScalaTest-verified against the exact count
    * with the rsd guarantee (QuantileSketchSpec) instead of being
    * oracle-declared — `q_agg_distinct` stays the exact contract.
    *
    * @param rsd relative standard deviation of the HLL++ estimate.
    */
  private[graft] def distinctApprox(s: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_join_inner" -> QueryDef(
      joinInner,
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
             |  round(sum(o_totalprice), 4) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      "R1 multi-way inner equi-join"),
    "q_join_left" -> QueryDef(
      joinLeft,
      Some("""SELECT c_nationkey, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
             |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
             |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      "R2 left outer join + null handling"),
    "q_join_semi" -> QueryDef(
      joinSemi,
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
             |ORDER BY c_custkey""".stripMargin),
      "R3 left semi join (EXISTS)"),
    "q_join_anti" -> QueryDef(
      joinAnti,
      Some("""SELECT c_custkey, c_nationkey, round(c_acctbal, 4) + 0 AS c_acctbal FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
             |ORDER BY c_custkey""".stripMargin),
      "R4 left anti join (NOT EXISTS), non-empty at sf0.01"),
    "q_agg_q1" -> QueryDef(
      aggQ1,
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 4) AS sum_qty,
             |  round(sum(l_extendedprice), 4) AS sum_base_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_extendedprice), 4) AS avg_price,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "R5 TPC-H Q1-shaped aggregate"),
    "q_agg_distinct" -> QueryDef(
      aggDistinct,
      Some("""SELECT c_mktsegment, CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
             |  CAST(count(*) AS BIGINT) AS n_customers,
             |  round(sum(c_acctbal), 4) + 0 AS sum_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "R6 distinct aggregate"),
    "q_agg_rollup" -> QueryDef(
      aggRollup,
      Some("""SELECT coalesce(o_orderstatus, '(all)') AS status,
             |  coalesce(o_orderpriority, '(all)') AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 4) AS total,
             |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY gid, status, priority""".stripMargin),
      "R7 ROLLUP + grouping_id"),
    "q_win_rank" -> QueryDef(
      winRank,
      Some("""SELECT c_nationkey, c_custkey, round(c_acctbal, 4) + 0 AS c_acctbal,
             |  CAST(rnk AS BIGINT) AS rnk FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
             |  FROM customer) WHERE rnk <= 3
             |ORDER BY c_nationkey, rnk, c_custkey""".stripMargin),
      "R8 ranking window top-3 per nation"),
    "q_win_running" -> QueryDef(
      winRunning,
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate ASC, o_orderkey ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      "R9 running-frame window"),
    "q_win_dist" -> QueryDef(
      winDist,
      Some(winDistSql),
      "R30 distribution windows: percent_rank/cume_dist in integer space + NTILE quartiles"),
    "q_topk" -> QueryDef(
      topK,
      Some("""SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
      "R10 top-K via sort+limit"),
    "q_set_ops" -> QueryDef(
      setOps,
      Some("""SELECT k FROM (
             |  (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'FURNITURE'
             |   UNION ALL
             |   SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
             |  INTERSECT
             |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000.0
             |  EXCEPT
             |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
             |) ORDER BY k""".stripMargin),
      "R11 union all / intersect / except composition"),
    "q_scalar_funcs" -> QueryDef(
      scalarFuncs,
      Some("""SELECT o_orderkey,
             |  upper(o_orderpriority) AS pri_up,
             |  substring(o_orderpriority, 1, 3) AS pri_pre,
             |  CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
             |  o_orderstatus || ':' || o_orderpriority AS tag,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  round(o_totalprice * 1.1, 4) AS uplift,
             |  CAST(floor(o_totalprice) AS BIGINT) AS fl,
             |  CAST(abs(o_totalprice - 100000.0) AS DOUBLE) AS dist,
             |  CAST(o_orderkey % 7 AS BIGINT) AS m7
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      "R12 scalar string/date/math functions"),
    "q_asof" -> QueryDef(
      asofJoin,
      Some("""SELECT e.event_id, err.event_id AS last_error_id,
             |  CAST(epoch_us(e.ts) - epoch_us(err.ts) AS BIGINT) AS us_since_error
             |FROM events e ASOF JOIN (
             |  SELECT user_id, ts, min(event_id) AS event_id
             |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts) err
             |  ON e.user_id = err.user_id AND e.ts >= err.ts
             |ORDER BY e.event_id""".stripMargin),
      "R13 as-of join: nearest-earlier error per event (time since last error)"),
    "q_pivot" -> QueryDef(
      pivotCounts,
      Some {
        val cols = eventTypes
          .map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
          .mkString(",\n  ")
        s"""SELECT user_id,
           |  $cols
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      },
      "R14 pivot: per-user event counts over a fixed column set"),
    "q_agg_cube" -> QueryDef(
      aggCube,
      Some("""SELECT coalesce(o_orderstatus, '(all)') AS status,
             |  coalesce(o_orderpriority, '(all)') AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 4) AS total,
             |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY gid, status, priority""".stripMargin),
      "R15 CUBE + grouping_id"),
    "q_quantiles" -> QueryDef(
      quantiles,
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.5), 4) + 0 AS p50,
             |  round(quantile_cont(value, 0.9), 4) + 0 AS p90,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "R16 exact interpolated quantiles per group"),
    "q_join_full" -> QueryDef(
      joinFull,
      Some("""WITH act AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
             |  FROM events GROUP BY user_id),
             |seg AS (
             |  SELECT c_custkey, round(c_acctbal, 4) + 0 AS acctbal
             |  FROM customer WHERE c_mktsegment = 'BUILDING')
             |SELECT coalesce(user_id, c_custkey) AS key, n_events, acctbal,
             |  CASE WHEN user_id IS NULL THEN 'inactive_account'
             |       WHEN c_custkey IS NULL THEN 'unmatched_user'
             |       ELSE 'both' END AS side
             |FROM act FULL JOIN seg ON user_id = c_custkey
             |ORDER BY key""".stripMargin),
      "R18 full outer join: event activity vs account list, both null sides live"),
    "q_string_agg" -> QueryDef(
      stringAgg,
      Some("""SELECT o_custkey,
             |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
             |  CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders WHERE o_custkey < 300
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
      "R19 deterministic group string aggregation (sorted distinct LISTAGG)"),
    "q_above_avg" -> QueryDef(
      aboveAvg,
      Some("""WITH o AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice,
             |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
             |  FROM orders),
             |w AS (
             |  SELECT *, sum(cents) OVER (PARTITION BY o_custkey) AS sum_c,
             |    count(*) OVER (PARTITION BY o_custkey) AS n_c
             |  FROM o)
             |SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice,
             |  CAST(n_c AS BIGINT) AS n_orders,
             |  CAST(sum_c AS BIGINT) AS sum_cents
             |FROM w WHERE cents * n_c > sum_c ORDER BY o_orderkey""".stripMargin),
      "R20 correlated aggregate comparison: orders above their customer's average, integer-exact"),
    "q_range_join" -> QueryDef(
      rangeJoin,
      Some(s"""WITH alerts AS (
              |  SELECT event_id, user_id, epoch_us(ts) AS t0 FROM events WHERE value > 300)
              |SELECT a.event_id, a.user_id, CAST(a.t0 AS BIGINT) AS t0_us,
              |  CAST(count(*) AS BIGINT) AS n_events
              |FROM alerts a
              |JOIN (SELECT user_id, epoch_us(ts) AS t FROM events) e
              |  ON e.user_id = a.user_id AND e.t >= a.t0 AND e.t < a.t0 + $rjWindowUs
              |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin),
      "R21 range/interval join via window-length binning (no nested-loop join)"),
    "q_interarrival" -> QueryDef(
      interArrival,
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
             |g AS (
             |  SELECT user_id,
             |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
             |  FROM e)
             |SELECT user_id,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(gap) AS BIGINT) AS n_gaps,
             |  CAST(min(gap) AS BIGINT) AS min_gap_us,
             |  CAST(max(gap) AS BIGINT) AS max_gap_us,
             |  CAST(sum(gap) AS BIGINT) AS sum_gap_us
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
      "R22 inter-arrival gaps per user (lag window, integer-µs exact)"),
    "q_debounce" -> QueryDef(
      debounce,
      Some(debounceSql),
      "R27 duplicate-burst suppression: keep events > 900s after their type's previous"),
    "q_funnel" -> QueryDef(
      funnel,
      Some(funnelSql),
      "R28 ordered funnel view->click->purchase: chained order-constrained minima per user"),
    "q_retention" -> QueryDef(
      retention,
      Some(retentionSql),
      "R29 daily cohort retention: signup cohorts x day offsets, integer-exact matrix"),
    "q_resample" -> QueryDef(
      resample,
      Some("""WITH span AS (
             |  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
             |  FROM events GROUP BY user_id),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS ots
             |  FROM span),
             |u AS (
             |  SELECT user_id, ts AS ots, 0 AS is_grid, event_id, value FROM events
             |  UNION ALL
             |  SELECT user_id, ots, 1 AS is_grid, -1 AS event_id, CAST(NULL AS DOUBLE) AS value
             |  FROM grid),
             |f AS (
             |  SELECT user_id, ots, is_grid,
             |    last_value(value IGNORE NULLS) OVER (
             |      PARTITION BY user_id ORDER BY ots, is_grid, event_id
             |      ROWS UNBOUNDED PRECEDING) AS fill
             |  FROM u)
             |SELECT user_id, ots AS grid_ts, round(fill, 4) + 0 AS value
             |FROM f WHERE is_grid = 1 ORDER BY user_id, grid_ts""".stripMargin),
      "R25 time-grid resampling with forward fill (6h grid per user, gap-honest)"),
    "q_latest" -> QueryDef(
      latest,
      Some("""WITH r AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id, CAST(us AS BIGINT) AS last_us,
             |  event_id AS last_event_id, round(value, 4) + 0 AS last_value
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
      "R26 latest-reading snapshot per user (argmax aggregate, window-pinned oracle)"),
    "q_revenue_top" -> QueryDef(
      revenueTop,
      Some("""SELECT o_orderkey, o_orderpriority,
             |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
             |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
             |    AS revenue_e4,
             |  CAST(count(*) AS BIGINT) AS n_lines
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY o_orderkey, o_orderpriority
             |ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 10""".stripMargin),
      "R23 TPC-H Q3-shape multi-join top-K, integer-exact revenue"),
    "q_grouping_sets" -> QueryDef(
      aggGroupingSets,
      Some("""SELECT coalesce(o_orderstatus, '(all)') AS status,
             |  coalesce(o_orderpriority, '(all)') AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 4) AS total,
             |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, status, priority""".stripMargin),
      "R24 explicit GROUPING SETS: independent marginals, one Expand aggregate"),
  )
}
