package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Batch-checkable re-expressions of the reference gateway's ETL
  * semantics (SURVEY.md §2.1–§2.3): frame parse/validate/decode,
  * fan-out routing, buffer cap, bulk time-offset encoding, periodic
  * batching. The reference (lafrech/oem_gateway, see SURVEY.md
  * integrity note — `/root/reference/` is empty; citations are
  * symbol-level ※) processes frames one at a time on a single thread;
  * here every step is a declarative column expression so Catalyst
  * keeps the whole parse→validate→decode path inside one
  * WholeStageCodegen stage with no shuffle until the final aggregate.
  *
  * Scale notes (100 TB): all parse/decode ops are narrow (per-row);
  * the aggregates shuffle once on their grouping key. `events` at
  * 100 TB would be time-partitioned parquet; the `date_trunc` bucket
  * aligns with partition pruning so a time-sliced query reads only
  * its partitions.
  */
object Etl {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** S4 — plain projected scan. Column pruning must reach the parquet
    * reader (ReadSchema shows only the 4 columns).
    */
  private def scanEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_id"),
        col("event_type"),
        col("user_id"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")

  /** P1+P2 — frame tokenize + malformed-frame discard.
    * ※ oemgatewaylistener.py · _process_frame: strip().split(' '),
    * first token node id; non-numeric / too-short frames dropped;
    * RFM2Pi drops lines starting with '?'.
    *
    * Batch analog: deterministically synthesize a wire frame per event
    * (some malformed, some '?'-flagged — same derivation on the oracle
    * side), then tokenize/validate/parse with the gateway's own
    * socket-dialect [[FrameCodec]] expressions and aggregate per node.
    * Every synthesized frame carries at most one value, so the first
    * parsed value is the frame's value.
    */
  private def filterValid(s: SparkSession, dir: String): DataFrame = {
    val framed = events(s, dir).withColumn(
      "frame",
      when(col("event_id") % 13 === 0, concat(lit("? "), col("user_id").cast("string"), lit(" "), col("value").cast("string")))
        .when(col("event_id") % 17 === 0, concat(lit("bad "), col("value").cast("string")))
        .when(col("event_id") % 19 === 0, col("user_id").cast("string")) // too short
        .otherwise(concat(col("user_id").cast("string"), lit(" "), col("value").cast("string"))))
    framed.withColumn("toks", FrameCodec.tokens(col("frame")))
      .filter(FrameCodec.socketValid(col("frame"), col("toks")))
      .withColumn("node", FrameCodec.socketNode(col("toks")))
      .withColumn("v", element_at(FrameCodec.socketValues(col("toks")), 1))
      .groupBy(col("node"))
      .agg(
        count(lit(1)).as("n_valid"),
        round(sum(col("v")), 4).as("sum_v"))
      .orderBy("node")
  }

  /** P3 — RFM2Pi little-endian signed-int16 byte-pair reassembly via
    * the shared [[FrameCodec.decodeInt16]] expression (also used by the
    * streaming gateway, so batch and streaming decode identically).
    * Byte pair derived deterministically from event_id (same on the
    * oracle side); pure column arithmetic — no UDF, stays in codegen.
    */
  private def frameDecode(s: SparkSession, dir: String): DataFrame = {
    val lo = col("event_id") % 256
    val hi = (col("event_id") * 7) % 256
    events(s, dir)
      .select(
        col("event_id"),
        lo.cast("long").as("b_lo"),
        hi.cast("long").as("b_hi"),
        FrameCodec.decodeInt16(lo, hi).cast("long").as("decoded"))
      .orderBy("event_id")
  }

  /** B1 — fan-out routing. ※ oemgateway.py · OemGateway.run(): every
    * decoded record is offered to every buffer; each buffer's `active`
    * flag (runtime setting) gates acceptance. Batch analog: explode the
    * route list per record, apply each route's gate, aggregate per
    * route. In streaming this is N sink queries off one source (see
    * graft.streaming.Gateway); here the explode keeps it one narrow
    * stage + one shuffle for the final aggregate.
    */
  private def routeFanout(s: SparkSession, dir: String): DataFrame = {
    val routed = events(s, dir)
      .withColumn("route", explode(array(lit("buf_emoncms_a"), lit("buf_emoncms_b"), lit("buf_errors_only"))))
      // gate: buf_errors_only accepts only error frames (active-flag analog)
      .filter(col("route") =!= "buf_errors_only" || col("event_type") === "error")
    routed
      .groupBy("route")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_nodes"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("route")
  }

  /** B2 — buffer cap / FIFO eviction: keep newest K per node.
    * ※ oemgatewaybuffer.py: capped in-memory FIFO, oldest dropped.
    * Batch analog: row_number over (node, ts desc) <= K. At scale this
    * is the standard top-K-per-key pattern — one shuffle on user_id,
    * no global sort. Catalyst's InferWindowGroupLimit already rewrites
    * this filter into partial (map-side, pre-shuffle) + final
    * WindowGroupLimit operators (verified in the physical plan), so
    * each mapper ships at most K rows per key — a custom top-K
    * operator would be redundant on Spark 4.
    */
  private def bufferCap(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("user_id"), col("event_id"), col("rn").cast("long").as("rn"))
      .orderBy("user_id", "rn")
  }

  /** B3 — bulk upload time-offset encoding.
    * ※ OemGatewayEmoncmsBuffer._send_data: payload data=[[t−T,node,v…]]
    * with sentat=T (batch reference time). Batch analog: T = min(ts)
    * per (node, hour-batch); verify the offset arithmetic via exact
    * integer aggregates (microsecond offsets) per batch.
    */
  private def bulkEncode(s: SparkSession, dir: String): DataFrame = {
    val batched = events(s, dir)
      .withColumn("batch", date_trunc("hour", col("ts")))
    val withT = batched
      .withColumn("t_ref", min(unix_micros(col("ts")))
        .over(Window.partitionBy(col("user_id"), col("batch"))))
      .withColumn("offset_us", unix_micros(col("ts")) - col("t_ref"))
    withT
      .groupBy(col("user_id"), col("batch"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("offset_us")).cast("long").as("sum_offset_us"),
        max(col("offset_us")).cast("long").as("max_offset_us"))
      .orderBy("user_id", "batch")
  }

  /** B4/W1 — periodic send → tumbling-window aggregation (flagship).
    * ※ run() + buffer `period` runtime setting: send when
    * now − last_send > period. The batch analog of "one upload per
    * period" is one aggregate row per (hour bucket, event_type).
    */
  def windowTumble(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // sum only — no avg: round(avg, 4) hit an exact half-way tie at
        // sf0.1 (1403.37/24 = 58.47375) where Spark and DuckDB round
        // differently; sums of 2-decimal values cannot tie at 4 dp, and
        // (sum, n) determines the mean anyway.
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("bucket", "event_type")

  /** Rate/period analog — events per node per day, HAVING n >= 5
    * (reference `period` + buffer-pressure analog).
    */
  private def ratePeriod(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy("user_id", "day")

  /** Robust spike rejection — flag readings more than 3 MADs from
    * their sensor-type median (median/MAD, not mean/stddev: one stuck
    * sensor at 10⁶ drags a mean-based gate open, the median doesn't
    * move). This is the input-validation step a real ingest gateway
    * grows the moment hardware misbehaves; the reference's only
    * validation is P2's parse check.
    *
    * Cross-engine discipline: everything is integer. Readings become
    * cents; a median of integers is integral or half-integral, so
    * ×2 makes `med2` exact; deviations `|2·cents − med2|` are exact
    * half-cents; their median ×2 (`mad4`) is exact quarter-cents; the
    * gate compares quarter-cents to quarter-cents. No float ever
    * crosses an engine boundary (the R20 rule — a float `3·mad`
    * threshold would flip boundary rows per engine).
    *
    * Scale shape: two percentile aggregates over the event stream
    * (map-side partial sort buffers), each collapsing to a ≤|types|-
    * row dictionary that auto-broadcasts back onto the stream — the
    * "join against the aggregate, never window the corpus" rule.
    * Exact percentiles sort per group at 100 TB; the documented scale
    * path swaps in the GK sketch ([[Relational.quantilesApprox]]'s
    * contract) at a bounded rank-error cost.
    */
  private def outlierMad(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(
      col("event_id"), col("event_type"), col("value"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    val med = e.groupBy(col("event_type"))
      .agg(round(expr("percentile(cents, 0.5)") * 2, 0).cast("long").as("med2"))
    val dev = e.join(med, "event_type")
      .withColumn("dev2", abs(col("cents") * 2 - col("med2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(dev2, 0.5)") * 2, 0).cast("long").as("mad4"))
    dev.join(mad, "event_type")
      .filter(col("dev2") * 2 > col("mad4") * 3)
      .select(
        col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        (col("dev2") * 2).as("dev_qc"),
        (col("mad4") * 3).as("thr_qc"))
      .orderBy("event_id")
  }

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_scan_events" -> QueryDef(
      scanEvents,
      Some("""SELECT event_id, event_type, user_id, round(value, 4) + 0 AS value
             |FROM events ORDER BY event_id""".stripMargin),
      "S4 projected parquet scan"),
    "q_filter_valid" -> QueryDef(
      filterValid,
      Some("""WITH framed AS (
             |  SELECT *, CASE
             |    WHEN event_id % 13 = 0 THEN '? ' || CAST(user_id AS VARCHAR) || ' ' || CAST(value AS VARCHAR)
             |    WHEN event_id % 17 = 0 THEN 'bad ' || CAST(value AS VARCHAR)
             |    WHEN event_id % 19 = 0 THEN CAST(user_id AS VARCHAR)
             |    ELSE CAST(user_id AS VARCHAR) || ' ' || CAST(value AS VARCHAR) END AS frame
             |  FROM events),
             |toks AS (SELECT *, string_split(frame, ' ') AS t FROM framed
             |         WHERE frame NOT LIKE '?%' AND len(string_split(frame, ' ')) >= 2),
             |parsed AS (SELECT TRY_CAST(t[1] AS BIGINT) AS node, TRY_CAST(t[2] AS DOUBLE) AS v
             |           FROM toks)
             |SELECT node, CAST(count(*) AS BIGINT) AS n_valid, round(sum(v), 4) + 0 AS sum_v
             |FROM parsed WHERE node IS NOT NULL AND v IS NOT NULL
             |GROUP BY node ORDER BY node""".stripMargin),
      "P1+P2 frame tokenize + malformed discard"),
    "q_frame_decode" -> QueryDef(
      frameDecode,
      Some("""SELECT event_id,
             |  CAST(event_id % 256 AS BIGINT) AS b_lo,
             |  CAST((event_id * 7) % 256 AS BIGINT) AS b_hi,
             |  CAST(CASE WHEN (event_id % 256) + ((event_id * 7) % 256) * 256 > 32767
             |       THEN (event_id % 256) + ((event_id * 7) % 256) * 256 - 65536
             |       ELSE (event_id % 256) + ((event_id * 7) % 256) * 256 END AS BIGINT) AS decoded
             |FROM events ORDER BY event_id""".stripMargin),
      "P3 little-endian signed-int16 byte-pair decode"),
    "q_route_fanout" -> QueryDef(
      routeFanout,
      Some("""SELECT route, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_nodes,
             |  round(sum(value), 4) + 0 AS sum_value
             |FROM events
             |CROSS JOIN (VALUES ('buf_emoncms_a'), ('buf_emoncms_b'), ('buf_errors_only')) AS r(route)
             |WHERE route <> 'buf_errors_only' OR event_type = 'error'
             |GROUP BY route ORDER BY route""".stripMargin),
      "B1 fan-out routing with per-route gate"),
    "q_buffer_cap" -> QueryDef(
      bufferCap,
      Some("""SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn <= 10 ORDER BY user_id, rn""".stripMargin),
      "B2 buffer cap: newest K per node"),
    "q_bulk_encode" -> QueryDef(
      bulkEncode,
      Some("""WITH w AS (
             |  SELECT user_id, date_trunc('hour', ts) AS batch,
             |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id, date_trunc('hour', ts)) AS offset_us
             |  FROM events)
             |SELECT user_id, batch, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(offset_us) AS BIGINT) AS sum_offset_us,
             |  CAST(max(offset_us) AS BIGINT) AS max_offset_us
             |FROM w GROUP BY user_id, batch ORDER BY user_id, batch""".stripMargin),
      "B3 bulk time-offset encoding (sentat/delta-t)"),
    "q_window_tumble" -> QueryDef(
      windowTumble,
      Some("""SELECT date_trunc('hour', ts) AS bucket, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(value), 4) + 0 AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "B4 periodic batching → tumbling window aggregate (flagship)"),
    "q_rate_period" -> QueryDef(
      ratePeriod,
      Some("""SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY 1, 2 HAVING count(*) >= 5
             |ORDER BY user_id, day""".stripMargin),
      "rate/period analog: per-node daily counts with HAVING"),
    "q_outlier_mad" -> QueryDef(
      outlierMad,
      Some("""WITH e AS (
             |  SELECT event_id, event_type, value,
             |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
             |m AS (
             |  SELECT event_type,
             |    CAST(round(quantile_cont(cents, 0.5) * 2, 0) AS BIGINT) AS med2
             |  FROM e GROUP BY event_type),
             |d AS (
             |  SELECT e.*, abs(2 * cents - med2) AS dev2
             |  FROM e JOIN m USING (event_type)),
             |s AS (
             |  SELECT event_type,
             |    CAST(round(quantile_cont(dev2, 0.5) * 2, 0) AS BIGINT) AS mad4
             |  FROM d GROUP BY event_type)
             |SELECT d.event_id, d.event_type, round(d.value, 4) + 0 AS value,
             |  CAST(2 * d.dev2 AS BIGINT) AS dev_qc,
             |  CAST(3 * s.mad4 AS BIGINT) AS thr_qc
             |FROM d JOIN s USING (event_type)
             |WHERE 2 * d.dev2 > 3 * s.mad4
             |ORDER BY event_id""".stripMargin),
      "robust spike rejection: |reading − type median| > 3 MAD, integer-exact"),
  )
}
