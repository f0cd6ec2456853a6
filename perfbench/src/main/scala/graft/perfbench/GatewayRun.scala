package graft.perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.Gateway
import graft.streaming.Gateway.{BufferConf, GatewayConf, ListenerConf}

/** The gateway workload: `Gateway.supervise` over the spool listener
  * with frame dedup, the 10 s window aggregate and two buffers (a
  * parquet sink and a POST to the generator's emoncms stub). A
  * pre-spooled backlog is drained first (catch-up), then the generator
  * feeds live frames for the run's seconds.
  */
object GatewayRun {
  val Rate = 500
  val Nodes = 5000
  /** Buffer send period (the reference's `period`): the trigger interval. */
  val PeriodS = 5
  val Buffers = Seq("pq", "post")

  /** The generator/stub process and its stdout protocol. */
  final class Gen(o: Opts, spool: Path, backlog: Int, live: Int) {
    private val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    private val cmd = Seq(
      javaBin.toString, "-Xmx512m", "-XX:ActiveProcessorCount=2",
      "-cp", System.getProperty("java.class.path"), "graft.perfbench.FrameGen",
      "--spool", spool.toString, "--work", o.workDir.toString, "--seed", o.seed.toString,
      "--backlog", backlog.toString, "--live", live.toString, "--rate", Rate.toString,
      "--nodes", Nodes.toString, "--period", PeriodS.toString, "--plant", o.plant)
    val proc: Process = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    private val toGen = new PrintWriter(proc.getOutputStream, true)
    private val lines = new LinkedBlockingQueue[String]()
    /** spool files in write order: (name, lines, due start µs, slots) */
    val files = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
    private val reader = new Thread(() => {
      val r = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
      Iterator.continually(r.readLine()).takeWhile(_ != null).foreach { l =>
        if (l.startsWith("FILE ")) {
          val f = l.split(" ")
          files.synchronized(files += ((f(1), f(2).toLong, f(3).toLong, f(4).toInt)))
        } else lines.put(l)
      }
      lines.put("EOF")
    }, "perfbench-gen-reader")
    reader.setDaemon(true)
    reader.start()

    def send(s: String): Unit = toGen.println(s)
    def expect(prefix: String, timeoutS: Int = 120): String = {
      val l = lines.poll(timeoutS.toLong, java.util.concurrent.TimeUnit.SECONDS)
      require(l != null && l.startsWith(prefix), s"generator: expected $prefix, got $l")
      l
    }
    def stop(): Unit = {
      toGen.close()
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
      proc.waitFor()
    }
  }

  def conf(root: Path, spool: Path, port: Int): GatewayConf = GatewayConf(
    listeners = Seq(ListenerConf("spool", dialect = "socket", embeddedTimestamp = true,
      spoolDir = Some(spool.toString))),
    buffers = Seq(
      BufferConf("pq", root.resolve("sink-pq").toString, periodSeconds = PeriodS),
      BufferConf("post", root.resolve("sink-post").toString, periodSeconds = PeriodS,
        postUrl = Some(s"http://127.0.0.1:$port/input/bulk.json"))),
    checkpointRoot = root.resolve("ckpt").toString,
    windowDuration = "10 seconds",
    watermarkDelay = "1 minute",
    dedupFrames = true)

  /** A micro-batch as its progress reports it. */
  final case class Batch(buffer: String, id: Long, startMs: Double, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long, stateCommitMs: Long) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  private def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p: StreamingQueryProgress =>
      val ops = Option(p.stateOperators).toSeq.flatten
      Batch(q.name.stripPrefix("gateway-"), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
    }.sortBy(_.id)

  def run(o: Opts, res: Result, tracer: Tracer): Unit = {
    val root = o.workDir.resolve("gateway")
    Main.deleteTree(root)
    Files.createDirectories(root)
    val backlog = if (o.small) 3000 else 5000
    // whole send periods, so every live micro-batch reads PeriodS files
    val live = math.max(1, (o.seconds / PeriodS).ceil.toInt) * PeriodS
    val spool = root.resolve("spool")
    val gen = new Gen(o, spool, backlog, live)
    try runWith(o, res, tracer, root, spool, gen)
    finally gen.stop()
  }

  private def runWith(o: Opts, res: Result, tracer: Tracer, root: Path, spool: Path,
      gen: Gen): Unit = {
    val phases = mutable.ArrayBuffer.empty[Span]
    var port = 0
    val (_, wl) = tracer.span("workload:gateway", 0) { wid =>
      // set-up, from JVM launch: session + GraftConf.ensure + the
      // gateway's queries started (on an empty spool)
      var spark: SparkSession = null
      var setupS = 0.0
      val (_, su) = tracer.span("phase:setup", wid) { _ =>
        spark = Main.session(o)
        port = gen.expect("PORT").split(" ")(1).toInt
        val r = root.resolve("setup")
        Files.createDirectories(r.resolve("spool"))
        val sup = Gateway.supervise(spark, conf(r, r.resolve("spool"), port), maxRestarts = 0)
        require(sup.queries.size == 2 && sup.queries.forall(_.isActive), "setup: queries did not start")
        setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0
        sup.stop()
      }
      phases += su
      res.put("setup_s", setupS, "s")
      // the generator spools the backlog while the set-up runs
      gen.expect("READY")
      val backlogLines = gen.files.synchronized(gen.files.map(_._2).sum)
      res.heapCheckpoint()
      val counters = new RunCounters(res)
      val ev = new SparkEvents
      if (o.trace) spark.sparkContext.addSparkListener(ev)

      // catch-up: drain the backlog through both buffers
      var sup: Gateway.Supervisor = null
      val cpuA = Main.cpuS
      val (_, cu) = tracer.span("phase:catchup", wid) { _ =>
        sup = Gateway.supervise(spark, conf(root, spool, port), maxRestarts = 5)
        awaitRows(sup, backlogLines, 120)
      }
      phases += cu
      val drainEnd = sup.queries.map(q => batches(q).find(b =>
        batches(q).filter(_.id <= b.id).map(_.rows).sum >= backlogLines).get.endMs).max
      val drainS = (drainEnd - cu.startMs) / 1000
      res.put("cold_cpu_s", Main.cpuS - cpuA, "s")
      res.put("wall.cold_s", drainS, "s")
      res.heapCheckpoint()
      val cpuB = Main.cpuS

      // live: open-loop frames for the run's seconds, then drain
      val (lateMs, lv) = tracer.span("phase:live", wid) { _ =>
        gen.send("LIVE")
        gen.expect("LIVEDONE", 60 + o.seconds.toInt).split(" ")(1).toDouble
      }
      phases += lv
      val (_, dr) = tracer.span("phase:drain", wid) { _ =>
        awaitRows(sup, gen.files.synchronized(gen.files.map(_._2).sum), 60)
      }
      phases += dr
      res.put("warm_cpu_s", Main.cpuS - cpuB, "s")
      res.heapCheckpoint()

      val (_, ck) = tracer.span("phase:check", wid) { _ =>
        gen.send("STOP")
        val c = gen.expect("CHECK").split(" ").drop(1).map(_.toLong)
        val Array(postBad, posts, postBytes, truthKeys) = c
        val pqBad = sinkMismatches(spark, root.resolve("sink-pq"), o.workDir.resolve("truth.csv"))
        val restarts = sup.restartCount
        res.attempted = gen.files.map(_._2).sum
        if (pqBad > 0) res.fail(s"parquet sink: $pqBad of $truthKeys keys differ from the generator", pqBad)
        if (postBad > 0) res.fail(s"POST payloads: $postBad of $truthKeys keys differ from the generator", postBad)
        if (restarts > 0) res.fail(s"supervisor restarted $restarts times", restarts)
        res.put("Gateway.posts", posts.toDouble, "count")
        res.put("Gateway.post_kb", postBytes / 1024.0, "KB")
        res.put("Gateway.late_dropped_rows",
          sup.queries.find(_.name == "gateway-pq").map(q => Gateway.droppedLateRows(q).toDouble).getOrElse(0.0), "count")
      }
      phases += ck

      val all = sup.queries.flatMap(batches)
      sup.stop()
      val liveBatches = all.filter(b => b.startMs >= lv.startMs)
      res.put("wall.warm_s", Main.median(liveBatches.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0)), "s")
      val lat = latencies(all, gen.files.synchronized(gen.files.toSeq))
      res.put("typical_ms", Main.quantile(lat, 0.5), "ms")
      res.put("tail_ms", Main.quantile(lat, 0.9), "ms")
      res.put("wall.typical_ms", Main.quantile(lat, 0.5), "ms")
      res.put("wall.tail_ms", Main.quantile(lat, 0.9), "ms")

      if (o.trace) {
        counters.report()
        res.put("spark.spill_mb", ev.spillMb, "MB")
        res.put("Gateway.drain_frames_per_s", backlogLines / drainS, "frames/s")
        res.put("gen.late_ms_max", lateMs, "ms")
        val (_, kn) = tracer.span("phase:kernels", wid)(_ => kernels(spark, root, spool, res))
        phases += kn
        layerMetrics(res, tracer, all, liveBatches, phases.toSeq)
      }
      System.err.println(phases.map(p => f"${p.name.stripPrefix("phase:")} ${p.durMs / 1000}%.1f s")
        .mkString("perfbench gateway phases: ", ", ", "") +
        s"; live trigger ms ${Buffers.map(b => s"$b ${liveBatches.filter(_.buffer == b).map(_.durations.getOrElse("triggerExecution", 0L)).mkString(" ")}").mkString(", ")}")
      spark.stop()
    }
    System.err.println(f"perfbench gateway: run ${wl.durMs / 1000}%.1f s")
  }

  private def awaitRows(sup: Gateway.Supervisor, rows: Long, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    def done = sup.queries.size == 2 && sup.queries.forall(q => batches(q).map(_.rows).sum >= rows)
    while (!done) {
      require(System.nanoTime() < deadline, s"spool not drained in $timeoutS s")
      Thread.sleep(50)
    }
  }

  /** Per-frame latency of the live files: from the buffers' trigger
    * tick that is the first to find the file (on the generator's
    * schedule it lands half a second after its second has passed) to
    * the commit of the micro-batch that delivered it, at the later of
    * the two buffers. The file is delivered by the first micro-batch
    * whose cumulative input covers it. Counting from the tick, not
    * from the frame's due time, leaves out the wait for the tick
    * (0.5–5.5 s, fixed by the schedule); what remains is batch work,
    * plus any delay in starting the batch when an earlier one overran.
    */
  private def latencies(all: Seq[Batch], files: Seq[(String, Long, Long, Int)]): Seq[Double] = {
    val periodMs = PeriodS * 1000L
    val byBuffer = all.groupBy(_.buffer).map { case (b, bs) =>
      val sorted = bs.sortBy(_.id)
      b -> sorted.zip(sorted.scanLeft(0L)(_ + _.rows).tail)
    }
    var cum = 0L
    files.flatMap { case (name, n, dueStartUs, slots) =>
      cum += n
      if (!name.startsWith("l-")) Nil
      else {
        val landMs = dueStartUs / 1000 + 1500
        val tickMs = (landMs + periodMs - 1) / periodMs * periodMs
        val commits = Buffers.flatMap(b => byBuffer.getOrElse(b, Nil).find(_._2 >= cum).map(_._1.endMs))
        if (commits.size < Buffers.size) Nil
        else Seq.fill(slots)(commits.max - tickMs)
      }
    }
  }

  /** Keys of the parquet sink's final rows (latest batch per window,
    * node, channel) whose n / sum_v differ from the generator's truth,
    * plus keys present on one side only.
    */
  def sinkMismatches(spark: SparkSession, sink: Path, truthCsv: Path): Long = {
    val key = Seq("wsec", "node", "channel")
    val latest = spark.read.parquet(sink.toString)
      .withColumn("rk", row_number().over(
        Window.partitionBy("window_start", "node", "channel").orderBy(col("batch_id").desc)))
      .filter(col("rk") === 1)
      .select(unix_seconds(col("window_start")).as("wsec"), col("node"),
        col("channel").cast("int").as("channel"), col("n"), col("sum_v"))
    val truth = spark.read.schema("wsec long, node long, channel int, tn long, tsum double")
      .csv(truthCsv.toString)
    latest.join(truth, key, "full_outer")
      .filter(col("n").isNull || col("tn").isNull || col("n") =!= col("tn") ||
        abs(col("sum_v") - col("tsum")) > lit(1e-9) * greatest(lit(1.0), abs(col("tsum"))))
      .count()
  }

  /** The gateway's public stage functions over the backlog, timed as
    * cumulative streaming runs (decode; + dedupFrames; + aggregate;
    * + emoncmsPayload per micro-batch), each drained with AvailableNow:
    * a stage's time is its run minus the previous run.
    */
  private def kernels(spark: SparkSession, root: Path, spool: Path, res: Result): Unit = {
    val l = ListenerConf("spool", dialect = "socket", embeddedTimestamp = true)
    val c = conf(root, spool, 0)
    def lines = spark.readStream.format("text").load(spool.resolve("b-*.txt").toString)
    def deduped = Gateway.dedupFrames(Gateway.decode(lines, l), c.watermarkDelay)
    def timed(name: String, w: DataStreamWriter[Row]): Double = {
      val t0 = System.nanoTime()
      w.option("checkpointLocation", root.resolve(s"kernels/$name").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    val ts = Seq(
      timed("decode", Gateway.decode(lines, l).writeStream.format("noop")),
      timed("dedupFrames", deduped.writeStream.format("noop")),
      timed("aggregate", Gateway.aggregate(deduped, c).writeStream.outputMode("update").format("noop")),
      timed("emoncmsPayload", Gateway.aggregate(deduped, c).writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          Gateway.emoncmsPayload(df).write.format("noop").mode("overwrite").save()
        }))
    Seq("decode", "dedupFrames", "aggregate", "emoncmsPayload").zip(ts.zip(0.0 +: ts.init))
      .foreach { case (n, (t, prev)) => res.put(s"Gateway.${n}_s", math.max(0.0, t - prev), "s") }
  }

  private val progressPhases =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private def layerMetrics(res: Result, tracer: Tracer, all: Seq[Batch], live: Seq[Batch],
      phases: Seq[Span]): Unit = {
    // micro-batch and progress-phase spans under the gateway phase in
    // which each batch started; progress reports durations only, so
    // the phases are laid out in Spark's execution order
    all.foreach { b =>
      val parent = phases.find(p => b.startMs >= p.startMs && b.startMs <= p.endMs).map(_.id).getOrElse(0)
      val id = tracer.add(s"batch:${b.buffer}", parent, b.startMs, b.endMs)
      var t = b.startMs
      progressPhases.foreach { ph =>
        val d = b.durations.getOrElse(ph, 0L).toDouble
        tracer.add(s"progress:$ph", id, t, t + d)
        t += d
      }
    }
    def p50(bs: Seq[Batch], key: String): Double =
      if (bs.isEmpty) 0.0 else Main.median(bs.map(_.durations.getOrElse(key, 0L).toDouble))
    Buffers.foreach { b =>
      val bs = live.filter(_.buffer == b)
      res.put(s"Gateway.$b.batches", all.count(_.buffer == b).toDouble, "count")
      res.put(s"Gateway.$b.trigger_ms_p50", p50(bs, "triggerExecution"), "ms")
      res.put(s"Gateway.$b.latest_offset_ms_p50", p50(bs, "latestOffset"), "ms")
      res.put(s"Gateway.$b.query_planning_ms_p50", p50(bs, "queryPlanning"), "ms")
      res.put(s"Gateway.$b.wal_commit_ms_p50", p50(bs, "walCommit"), "ms")
      res.put(s"Gateway.$b.commit_offsets_ms_p50", p50(bs, "commitOffsets"), "ms")
      res.put(s"Gateway.$b.add_batch_ms_p50", p50(bs, "addBatch"), "ms")
    }
    // state held by both buffers' queries, at its largest
    val byBatch = all.groupBy(_.id).values
    res.put("Gateway.state_rows", byBatch.map(_.map(_.stateRows).sum).max.toDouble, "count")
    res.put("Gateway.state_mb", byBatch.map(_.map(_.stateBytes).sum).max / 1048576.0, "MB")
    res.put("Gateway.state_commit_ms_p50",
      if (live.isEmpty) 0.0 else Main.median(live.map(_.stateCommitMs.toDouble)), "ms")
  }
}
