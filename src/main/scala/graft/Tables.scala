package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader over the driver-generated test data
  * (TESTDATA.md / FIXTURES.md). One parquet file per table at
  * `$dir/<name>.parquet`.
  *
  * At 100 TB each "table" becomes a partitioned parquet dataset
  * (directory of files, possibly hive-partitioned); `spark.read.parquet`
  * handles both shapes unchanged, and every query in this engine goes
  * through this single entry point so the substrate can be swapped
  * (Delta/Iceberg/bucketed tables) without touching operator code.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two encodings across driver testdata
      // generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses
      // unless read as raw longs — GraftConf.ensure enables the legacy
      // nanos-as-long read) and native TIMESTAMP(MICROS). Branch on the
      // type Spark actually read: a long column is nanos and gets
      // truncated to microseconds — exactly what DuckDB does on read
      // (SURVEY.md §7.3), so oracle parity is preserved; `div` keeps the
      // arithmetic in integer space (~1.7e18 ns overflows double's exact
      // integer range). A timestamp column is already µs and passes
      // through untouched.
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // isAdjustedToUTC=false parquet reads as TIMESTAMP_NTZ; the
          // operator surface (unix_micros, window(), watermarks) wants
          // TIMESTAMP. The cast interprets the naive value in the session
          // timezone — pinned to UTC at every entry point — which is the
          // same instant DuckDB assigns the naive timestamp, so oracle
          // parity is preserved.
          df.withColumn("ts",
            df("ts").cast(org.apache.spark.sql.types.TimestampType))
        case org.apache.spark.sql.types.TimestampType => df
        case other =>
          // Fail LOUDLY on a fourth encoding (r13 ADVICE): a silent
          // pass-through here would let e.g. a plain-INT64-micros
          // generation ride the nanos branch's assumptions into every
          // events query. LongType-means-nanos above is itself an
          // assumption; this guard at least pins the known universe.
          throw new IllegalStateException(
            s"events.ts read as unexpected type $other — known encodings are " +
              "TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, and TIMESTAMP(MICROS); " +
              "inspect the parquet footer before wiring a new branch")
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Spread compute-dense per-row work (gram explodes + per-gram
    * digests) across the session's cores when the input's PLANNED scan
    * has fewer partitions than that — guide §2.5's "one huge
    * unsplittable file" case. At bench SFs every table is one parquet
    * row group, so a scan is a single task no matter the core count,
    * and a stage that md5-hashes millions of grams runs single-threaded
    * on a 32-core session. The fan-out is runtime-adaptive, NOT a
    * local[32] constant: the partition count comes from the planned
    * scan and the target from `defaultParallelism`, so at production
    * shapes (scan splits ≥ cores) this is the identity and no exchange
    * is added. The r20 "scan fan-out rejected" measurement applied the
    * repartition to EVERY scan including latency-bound dictionary
    * collapses (where the extra stage + lost scan-stage fusion cost
    * more than the single-threaded work); this helper is applied ONLY
    * at sites whose downstream per-row work was measured compute-dense
    * (seconds of digest/explode work per task), where the ~0.1 s
    * exchange of a few hundred corpus rows buys a ~cores-way speedup.
    */
  private[graft] def fanOutForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

/** Session-level configuration this engine requires, applied exactly
  * once per session at entry points (Verify/Bench mains, SparkEntry
  * .entry, the test fixture) — NOT inside table loaders, so loaders
  * stay pure (VERDICT r1 "What's wrong" #4).
  */
object GraftConf {
  /** Idempotent; safe to call from any entry point. */
  def ensure(spark: SparkSession): Unit = {
    // events.ts is TIMESTAMP(NANOS) parquet in some testdata
    // generations; Spark 4 refuses it unless read as raw longs
    // (Tables truncates to µs, matching DuckDB).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIMESTAMP_NTZ generations are cast to TIMESTAMP in the session
    // zone (Tables); pin it to UTC everywhere so the instant matches
    // the oracle's naive-timestamp reading regardless of machine TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // OPTIMIZATION r20 (guide §2.2/§2.4): let AQE plan CACHED frames
    // too. The session-memoized indexes (shingle/pair tables, cluster
    // labels) are persisted DataFrames, and with the default (false)
    // their plans are frozen at the static spark.sql.shuffle.partitions
    // width with NO adaptive coalescing, no adaptive join selection —
    // measured as full-width task launches (32 tasks for kilobyte
    // partitions) on every memo build and every read through one.
    // Scale-adaptive by construction: AQE sizes partitions from
    // runtime bytes at ANY scale (its parallelismFirst default still
    // protects wide compute), so this is not a local[32] constant.
    // A/B on the memo-heavy probe set, same machine, back-to-back,
    // min of 3 passes: 46.0 s default → 37.2 s with this flag;
    // forcing coalescePartitions.parallelismFirst=false instead was
    // measured WORSE (44-46 s: it serializes the compute-heavy
    // index-build aggregates) and is deliberately left at default.
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Checkpoint and state-store files go through FileContext, which
    // builds a fresh AbstractFileSystem per call from this key: the
    // fork-free local filesystem (LocalFs) takes effect for every
    // streaming query started after this line.
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fs].getName)
  }
}

/** The one local session builder: every main (Bench, Verify, Inspect,
  * Explain, GuardProbe) and the test fixture start their session here,
  * so master width, shuffle width, extensions, codegen-cache sizing and
  * [[GraftConf.ensure]] cannot drift apart between them.
  */
object GraftSession {
  /** `$SPARK_GRAFT_CPUS` when set, else every core of the host. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions; `ui` turns the Spark
    * UI on (Inspect holds it open to read stage metrics).
    */
  def build(cpus: Int = defaultCpus, ui: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", ui.toString)
      // OPTIMIZATION r21 (guide §1.2 step 2 — per-task/fixed work): the
      // JVM-wide cache of whole-stage-codegen'd classes defaults to 100
      // entries, and this surface compiles ~8 generated classes per
      // query × 235 queries — the cache thrashed and EVERY bench pass
      // re-Janino-compiled every stage. Sized to the surface's working
      // set with headroom; pure compile caching (no data, no results).
      // STATIC conf, so it lives here (before getOrCreate), not in
      // GraftConf.ensure. Measured on the 20-query mid-tail slice,
      // alternating A/B ×2: 20.4/29.6 s (default) → 13.6/12.3 s.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConf.ensure(spark)
    spark
  }
}

/** One declared operator: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle the driver
  * hash-compares against (SURVEY.md §2).
  *
  * Determinism contract for every query (SURVEY.md §2 tail):
  *  - ends in a total-order ORDER BY with a unique tie-break column;
  *  - every floating-point measure is round(_, 4);
  *  - aggregate outputs are cast to explicit types (BIGINT/DOUBLE)
  *    because DuckDB defaults differ from Spark's;
  *  - no arrays/maps/structs in the final output.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")
