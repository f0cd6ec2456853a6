package graft

import graft.streaming.{CdcOp, Gateway, TypedEvent, UserEvent}
import graft.streaming.Gateway.{BufferConf, GatewayConf, ListenerConf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end streaming gateway tests (SURVEY.md §2.6/§5.2): the
  * MemoryStream plays the socket peer; frames carry an embedded epoch
  * token so event time is deterministic. Covers decode (P1–P3), the
  * watermarked window aggregate (B4), fan-out with the active gate
  * (B1), the B3-encoded idempotent sink (S5 shape), checkpoint
  * kill-restart with no loss and no duplication (B5), and the
  * late-data bound (documented superset of the reference).
  */
class GatewaySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val listener =
    ListenerConf("test", dialect = "socket", embeddedTimestamp = true)

  private def conf(out: String, ckpt: String, buffers: Seq[BufferConf] = Nil): GatewayConf =
    GatewayConf(
      listeners = Seq(listener),
      buffers =
        if (buffers.nonEmpty) buffers
        else Seq(BufferConf("main", s"$out/main", periodSeconds = 0)),
      checkpointRoot = ckpt,
      windowDuration = "10 seconds",
      watermarkDelay = "1 minute")

  /** Latest state per key across micro-batches = what an upserting
    * emoncms-style endpoint would hold after at-least-once delivery.
    */
  /** Rewrite a watched conf atomically (temp file + rename): the
    * supervisor's conf poll must never observe a half-written conf, which
    * can parse successfully with buffers missing.
    */
  private def atomicWrite(path: java.nio.file.Path, text: String): Unit = {
    val tmp = Files.createTempFile(path.getParent, "conf", ".tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(
      tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def finalState(outDir: String): Map[(Long, Long, Int), (Long, Double)] = {
    val df = spark.read.parquet(outDir)
    import spark.implicits._
    df.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("window_start", "node", "channel")
          .orderBy(col("batch_id").desc)))
      .filter(col("rn") === 1)
      .select(
        unix_seconds(col("window_start")), col("node"), col("channel").cast("int"),
        col("n"), col("sum_v"))
      .as[(Long, Long, Int, Long, Double)]
      .collect()
      .map { case (w, nd, ch, n, s) => (w, nd, ch) -> (n, s) }
      .toMap
  }

  private def runToCompletion(ms: MemoryStream[String], c: GatewayConf): Unit = {
    val decoded = Gateway.decode(ms.toDF(), listener)
    val queries = Gateway.start(Gateway.aggregate(decoded, c), c)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
  }

  test("e2e: frames → decode → windowed agg → B3-encoded sink; malformed dropped") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(
      "1000 10 1.5 2.5",
      "1002 10 0.5 0.5",
      "1011 11 2.0",
      "garbage",          // no numeric ts → dropped
      "? 1000 10 1",      // unreliable → dropped
      "1005 bad 1.0")     // non-numeric node → dropped
    runToCompletion(ms, conf(out, ckpt))

    val st = finalState(s"$out/main")
    assert(st === Map(
      (1000L, 10L, 0) -> (2L, 2.0),
      (1000L, 10L, 1) -> (2L, 3.0),
      (1010L, 11L, 0) -> (1L, 2.0)))

    // B3: every batch dir carries sentat + offsets relative to it
    val enc = spark.read.parquet(s"$out/main")
      .select(unix_seconds(col("sentat")).as("sentat"), col("offset_s"),
        unix_seconds(col("window_start")).as("ws"))
      .as[(Long, Double, Long)].collect()
    assert(enc.nonEmpty && enc.forall { case (sentat, off, ws) => sentat + off.toLong == ws })
  }

  test("B1 fan-out: every active buffer gets the stream, inactive gets nothing") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData("1000 1 5.0", "1003 2 7.0")
    val c = conf(out, ckpt, buffers = Seq(
      BufferConf("a", s"$out/a", periodSeconds = 0),
      BufferConf("b", s"$out/b", periodSeconds = 0),
      BufferConf("off", s"$out/off", active = false, periodSeconds = 0)))
    runToCompletion(ms, c)
    val a = finalState(s"$out/a")
    val b = finalState(s"$out/b")
    assert(a === b && a.keySet === Set((1000L, 1L, 0), (1000L, 2L, 0)))
    assert(!new java.io.File(s"$out/off").exists())
  }

  test("B5 checkpoint kill-restart: no loss, no duplication") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val c = conf(out, ckpt)

    ms.addData("1000 10 1.0", "1004 10 2.0")
    runToCompletion(ms, c) // phase 1, then "kill"

    ms.addData("1006 10 4.0", "1013 11 8.0") // 1006 updates the live window
    runToCompletion(ms, c) // restart from the same checkpoint

    val st = finalState(s"$out/main")
    // counts are exact: a lost batch would miss 1006/1013, a duplicated
    // replay would double n — either breaks the equality.
    assert(st === Map(
      (1000L, 10L, 0) -> (3L, 7.0),
      (1010L, 11L, 0) -> (1L, 8.0)))
  }

  test("one stateful execution per micro-batch: state metrics count each key once") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(
      "1000 10 1.5 2.5",
      "1002 10 0.5 0.5",
      "1011 11 2.0",
      "1025 12 1.0 2.0 3.0",
      "1027 12 4.0 5.0 6.0")
    val c = conf(out, ckpt)
    val Seq(q) = Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c)
    try q.processAllAvailable()
    finally q.stop()
    val keys = finalState(s"$out/main").size
    assert(keys === 6)
    // the data batch's progress: every state-store partition ran once,
    // so its summed metrics are the state itself, not a multiple of it
    val Seq(p) = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(p.stateOperators.map(_.numRowsTotal).sum === keys)
    assert(p.stateOperators.map(_.numRowsUpdated).sum === keys)
  }

  test("S2/P3 e2e: RFM2Pi dialect frames decode through the full gateway") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rfm = ListenerConf("radio", dialect = "rfm2pi", embeddedTimestamp = true)
    val ms = MemoryStream[String]
    ms.addData(
      "1000 OK 10 12 0 34 1",  // node 10 → values 12, 290
      "1002 OK 10 255 255",    // node 10 → value -1
      "1001 OK 10 12 0 34",    // odd byte count → dropped
      "1003 ? 10 1 2")         // unreliable → dropped
    val c = conf(out, ckpt)
    val decoded = Gateway.decode(ms.toDF(), rfm)
    val queries = Gateway.start(Gateway.aggregate(decoded, c), c)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    val st = finalState(s"$out/main")
    assert(st === Map(
      (1000L, 10L, 0) -> (2L, 11.0),  // 12 + (-1)
      (1000L, 10L, 1) -> (1L, 290.0)))
  }

  test("S5: emoncms bulk payload string is byte-exact") {
    import spark.implicits._
    // two finalized windows, one micro-batch: sentat = min window_start
    val agg = Seq(
      (1000L, 1010L, 10L, 0, 2L, 4.0, 2.0),
      (1010L, 1020L, 11L, 0, 1L, 4.0, 4.0))
      .toDF("ws", "we", "node", "channel", "n", "sum_v", "avg_v")
      .select(
        timestamp_seconds(col("ws")).as("window_start"),
        timestamp_seconds(col("we")).as("window_end"),
        col("node"), col("channel"), col("n"), col("sum_v"), col("avg_v"))
    val payload = Gateway.emoncmsPayload(agg).as[String].collect()
    assert(payload.toSeq === Seq(
      "data=[[0.0,10.0,0.0,2.0],[10.0,11.0,0.0,4.0]]&sentat=1000"))
  }

  test("S5/B5: non-ok reply fails the batch, checkpoint stays; restart delivers the same payload exactly once") {
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // In-JVM emoncms stand-in: first POST is rejected (reference rule:
    // reply != "ok" means the upload did not happen), every later POST
    // answers "ok". Bodies are recorded for byte-exact comparison.
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    server.createContext("/emoncms/input/bulk.json",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        received.add(new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        val reply =
          if (attempts.getAndIncrement() == 0) "Error: Invalid API key" else "ok"
        val bytes = reply.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val url =
        s"http://localhost:${server.getAddress.getPort}/emoncms/input/bulk.json?apikey=k"
      val c = GatewayConf(
        listeners = Seq(listener),
        buffers = Seq(BufferConf("post", outDir = "", periodSeconds = 0, postUrl = Some(url))),
        checkpointRoot = ckpt)
      val ms = MemoryStream[String]
      ms.addData("1000 10 1.5 2.5", "1002 10 0.5 0.5")

      // phase 1: server rejects → foreachBatch throws → the query dies
      // with the batch uncommitted (checkpoint does not advance).
      val q1 = Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c)
      val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.foreach(_.processAllAvailable())
      }
      q1.foreach(_.stop())
      assert(failure.getMessage.contains("emoncms rejected bulk upload"))
      assert(received.size() === 1) // exactly one attempt, no blind retry

      // phase 2: restart from the same checkpoint → the SAME batch
      // replays (proof the failed batch never committed) and delivers.
      val q2 = Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c)
      q2.foreach(_.processAllAvailable())
      q2.foreach(_.stop())
      assert(received.size() === 2)
      assert(received.get(0) === received.get(1)) // identical payload, once more

      // byte-exact body: form-decoded it is the pinned B3 payload
      val body = java.net.URLDecoder.decode(received.get(1), "UTF-8")
      assert(body === "data=[[0.0,10.0,0.0,1.0],[0.0,10.0,1.0,1.5]]&sentat=1000")
    } finally server.stop(0)
  }

  test("S5: payload chunking caps rows per POST, shared sentat") {
    import spark.implicits._
    val agg = Seq(
      (1000L, 1010L, 10L, 0, 2L, 4.0, 2.0),
      (1010L, 1020L, 11L, 0, 1L, 4.0, 4.0),
      (1020L, 1030L, 12L, 0, 1L, 6.0, 6.0))
      .toDF("ws", "we", "node", "channel", "n", "sum_v", "avg_v")
      .select(
        timestamp_seconds(col("ws")).as("window_start"),
        timestamp_seconds(col("we")).as("window_end"),
        col("node"), col("channel"), col("n"), col("sum_v"), col("avg_v"))
    val payloads = Gateway.emoncmsPayload(agg, maxRows = 2).as[String].collect().toSeq
    assert(payloads === Seq(
      "data=[[0.0,10.0,0.0,2.0],[10.0,11.0,0.0,4.0]]&sentat=1000",
      "data=[[20.0,12.0,0.0,6.0]]&sentat=1000"))
  }

  test("B6 hot reload: conf rewrite deactivates a buffer, state survives the cycle") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def ini(bActive: String): String =
      s"""[buffers]
         |    [[a]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = True
         |            period = 0
         |    [[b]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = $bActive
         |            period = 0
         |""".stripMargin
    val confPath = Files.createTempFile("gw", ".conf")
    Files.write(confPath, ini("True").getBytes("UTF-8"))

    val ms = MultiQueryMemoryStream[String]()
    val watcher = new Gateway.Supervisor(
      confFile = Some(confPath),
      parse = text => {
        val c = graft.streaming.GatewayConfig.parse(text, out, ckpt)
        c.copy(listeners = Seq(listener)) // stream comes from the MemoryStream
      },
      start = (c, reg) =>
        Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c, reg))
    try {
      ms.addData("1000 10 1.0", "1004 10 2.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (2L, 3.0)))
      assert(finalState(s"$out/b") === Map((1000L, 10L, 0) -> (2L, 3.0)))

      // rewrite the conf: buffer b goes inactive; wait for the cycle
      atomicWrite(confPath, ini("False"))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000 // generous: a slow checkpoint restart under load must not flake the assert
      while (watcher.reloads < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(watcher.reloads === 1L)

      ms.addData("1006 10 4.0")
      watcher.queries.foreach(_.processAllAvailable())
      // a restarted from its checkpoint: window state survived (count 3)
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (3L, 7.0)))
      // b is deactivated: its sink never saw the new frame
      assert(finalState(s"$out/b") === Map((1000L, 10L, 0) -> (2L, 3.0)))
    } finally watcher.close()
  }

  test("B6 hot reload: failed restart reverts to last-good conf and the watcher survives") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def ini(bActive: String, bPeriod: Int = 0): String =
      s"""[buffers]
         |    [[a]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = True
         |            period = 0
         |    [[b]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = $bActive
         |            period = $bPeriod
         |""".stripMargin
    val confPath = Files.createTempFile("gw", ".conf")
    Files.write(confPath, ini("True").getBytes("UTF-8"))

    val ms = MultiQueryMemoryStream[String]()
    val watcher = new Gateway.Supervisor(
      confFile = Some(confPath),
      parse = text => {
        val c = graft.streaming.GatewayConfig.parse(text, out, ckpt)
        c.copy(listeners = Seq(listener))
      },
      start = (c, reg) => {
        // an inactive buffer stands in for any start-time failure
        // (bad sink dir, checkpoint, Spark state): it throws AFTER the
        // old queries were stopped, exercising the revert path
        if (c.buffers.exists(!_.active)) throw new IllegalStateException("injected start failure")
        Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c, reg)
      })
    try {
      ms.addData("1000 10 1.0", "1004 10 2.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (2L, 3.0)))

      // rewrite parses fine but fails to start → revert to last good
      atomicWrite(confPath, ini("False"))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000 // generous: a slow checkpoint restart under load must not flake the assert
      while (watcher.failures < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(watcher.failures === 1L)
      assert(watcher.reloads === 0L)

      // queries are RUNNING again, on the last-good all-active conf,
      // restarted from checkpoint (window count advances to 3)
      ms.addData("1006 10 4.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (3L, 7.0)))
      assert(finalState(s"$out/b") === Map((1000L, 10L, 0) -> (3L, 7.0)))

      // the watcher thread survived the failed cycle: a subsequent
      // good rewrite still reloads
      atomicWrite(confPath, ini("True", bPeriod = 1))
      while (watcher.reloads < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(watcher.reloads === 1L)
      ms.addData("1008 10 8.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (4L, 15.0)))
    } finally watcher.close()
  }

  test("B6 hot reload: start failing AFTER a partial start stops the orphans before reverting") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def ini(bActive: String): String =
      s"""[buffers]
         |    [[a]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = True
         |            period = 0
         |    [[b]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = $bActive
         |            period = 0
         |""".stripMargin
    val confPath = Files.createTempFile("gw", ".conf")
    Files.write(confPath, ini("True").getBytes("UTF-8"))

    val ms = MultiQueryMemoryStream[String]()
    // runIds of queries started by the FAILED start attempt: the fix
    // under test is that the supervisor stops exactly these before reverting
    val partialRuns = new java.util.concurrent.CopyOnWriteArrayList[java.util.UUID]()
    val watcher = new Gateway.Supervisor(
      confFile = Some(confPath),
      parse = text => {
        val c = graft.streaming.GatewayConfig.parse(text, out, ckpt)
        c.copy(listeners = Seq(listener))
      },
      start = (c, reg) => {
        if (c.buffers.exists(!_.active)) {
          // simulate "query 2 of 2 fails to start": buffer a's query
          // starts FOR REAL (and is registered), then the start throws
          val cA = c.copy(buffers = c.buffers.filter(_.active))
          Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), cA), cA, reg)
            .foreach(q => partialRuns.add(q.runId))
          throw new IllegalStateException("injected failure after partial start")
        }
        Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c, reg)
      })
    try {
      ms.addData("1000 10 1.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (1L, 1.0)))

      // rewrite parses fine, starts a's query, THEN fails → the orphan
      // must be stopped and the last-good conf restarted cleanly
      atomicWrite(confPath, ini("False"))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000 // generous: a slow checkpoint restart under load must not flake the assert
      while (watcher.failures < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(watcher.failures === 1L)
      assert(watcher.reloads === 0L)
      assert(partialRuns.size === 1)

      // no orphan: the partial start's run is not among the active
      // queries (the reverted buffer-a query shares its checkpoint —
      // and thus its id — but every start gets a fresh runId)
      val activeRuns = spark.streams.active.map(_.runId).toSet
      assert(!activeRuns.contains(partialRuns.get(0)),
        "partially-started query from the failed reload is still running")

      // the revert itself succeeded: both last-good buffers advance
      // from their checkpoints (a collision with the orphan would have
      // failed the restart on the shared checkpoint dir)
      ms.addData("1004 10 2.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (2L, 3.0)))
      assert(finalState(s"$out/b") === Map((1000L, 10L, 0) -> (2L, 3.0)))
    } finally watcher.close()
  }

  test("B6 hot reload: the conf-file gateway restarts a dead run from its checkpoint") {
    // the reference daemon's one main loop both re-reads its conf and
    // keeps its listeners alive, so a conf-file gateway whose queries
    // die must come back like a supervised one: same checkpoints, no
    // frame lost across the outage, none counted twice
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ini =
      s"""[buffers]
         |    [[a]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = True
         |            period = 0
         |    [[b]]
         |        type = OemGatewayEmoncmsBuffer
         |        [[[runtime_settings]]]
         |            active = True
         |            period = 0
         |""".stripMargin
    val confPath = Files.createTempFile("gw", ".conf")
    Files.write(confPath, ini.getBytes("UTF-8"))

    val ms = MultiQueryMemoryStream[String]()
    val watcher = new Gateway.Supervisor(
      confFile = Some(confPath),
      parse = text => {
        val c = graft.streaming.GatewayConfig.parse(text, out, ckpt)
        c.copy(listeners = Seq(listener))
      },
      start = (c, reg) =>
        Gateway.start(Gateway.aggregate(Gateway.decode(ms.toDF(), listener), c), c, reg),
      backoffMs = 200)
    try {
      ms.addData("1000 10 1.0", "1004 10 2.0")
      watcher.queries.foreach(_.processAllAvailable())
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (2L, 3.0)))

      // kill the run from outside; a frame arrives during the outage
      val dead = watcher.queries.map(_.runId).toSet
      watcher.queries.foreach(_.stop())
      ms.addData("1005 10 4.0")
      def restarted = {
        val qs = watcher.queries
        qs.size == 2 && qs.forall(q => q.isActive && !dead(q.runId))
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!restarted && System.nanoTime() < deadline) Thread.sleep(20)
      assert(restarted, "the conf-file gateway never restarted its stopped queries")

      ms.addData("1008 10 8.0")
      watcher.queries.foreach(_.processAllAvailable())
      // window state resumed from the checkpoint: both frames counted once
      assert(finalState(s"$out/a") === Map((1000L, 10L, 0) -> (4L, 15.0)))
      assert(finalState(s"$out/b") === Map((1000L, 10L, 0) -> (4L, 15.0)))
    } finally watcher.close()
  }

  test("B2 streaming: capped FIFO state evicts oldest, bounded per node") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.streaming.Reading]
    val q = Gateway.bufferCapStream(ms.toDS(), cap = 5)
      .writeStream.outputMode("update").format("memory").queryName("bufcap").start()
    ms.addData((1 to 7).map(i => graft.streaming.Reading(1L, i.toLong, i.toDouble)): _*)
    q.processAllAvailable()
    val after1 = spark.table("bufcap").as[graft.streaming.BufStatus].collect().toList
    assert(after1 === List(graft.streaming.BufStatus(1L, 5, 2L)))
    ms.addData((8 to 10).map(i => graft.streaming.Reading(1L, i.toLong, i.toDouble)): _*)
    q.processAllAvailable()
    q.stop()
    val after2 = spark.table("bufcap").as[graft.streaming.BufStatus].collect().toList
    assert(after2.last === graft.streaming.BufStatus(1L, 5, 5L))
  }

  test("at-least-once upstream: duplicate frames are suppressed within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val decoded = Gateway.decode(ms.toDF(), listener)
    val c = GatewayConf(Seq(listener), Nil, checkpointRoot = "/tmp/unused")
    val q = Gateway.aggregate(Gateway.dedupFrames(decoded), c)
      .writeStream.outputMode("update").format("memory").queryName("dedupframes").start()
    // same frame delivered twice in one batch (bridge retry)
    ms.addData("1000 10 1.0", "1000 10 1.0", "1002 10 2.0")
    q.processAllAvailable()
    // and replayed again after a "reconnect", still within the watermark
    ms.addData("1000 10 1.0")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedupframes")
      .select(unix_seconds(col("window_start")), col("node"), col("channel"), col("n"), col("sum_v"))
      .as[(Long, Long, Int, Long, Double)].collect().toList
    // every emitted update counts the frame once: n=2 (1.0 + 2.0) —
    // a leaked duplicate would surface as n=3/sum=4.0 in a later update
    assert(rows.nonEmpty && rows.last === ((1000L, 10L, 0, 2L, 3.0)))
  }

  test("frame dedup keys on 64-bit content: distinct same-(ts,node) frames both survive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val decoded = Gateway.decode(ms.toDF(), listener)
    // the dedup key must be the 64-bit content hash, not 32-bit
    // Murmur3: a dedup key is a DROP decision, and exactly-once must
    // not hinge on a 2^-32 collision when 64 bits is free
    assert(Gateway.dedupFrames(decoded).queryExecution.analyzed.toString.contains("xxhash64"),
      "frame_id is not a 64-bit content hash")
    val c = GatewayConf(Seq(listener), Nil, checkpointRoot = "/tmp/unused")
    val q = Gateway.aggregate(Gateway.dedupFrames(decoded), c)
      .writeStream.outputMode("update").format("memory").queryName("dedupdistinct").start()
    // two DISTINCT readings at the same (ts, node) — e.g. two sensors
    // reporting in the same second — plus a true duplicate of the first
    ms.addData("1000 10 1.0", "1000 10 2.0", "1000 10 1.0")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedupdistinct")
      .select(unix_seconds(col("window_start")), col("node"), col("channel"), col("n"), col("sum_v"))
      .as[(Long, Long, Int, Long, Double)].collect().toList
    // both distinct frames count (n=2, sum=3.0); the duplicate does not
    assert(rows.nonEmpty && rows.last === ((1000L, 10L, 0, 2L, 3.0)))
  }

  test("B4 session windows: gap-based batching splits on silence") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData("1000 1 1.0", "1005 1 1.0", "1040 1 1.0")
    val decoded = Gateway.decode(ms.toDF(), listener)
    // session windows are append-mode only: sessions emit once the
    // watermark passes their end, so a later sentinel frame closes them
    val q = Gateway.aggregateSessions(decoded, gap = "30 seconds", watermarkDelay = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    q.processAllAvailable()
    ms.addData("3000 2 1.0") // advances watermark to 2940 ≫ 1070
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions")
      .select(unix_seconds(col("session_start")), unix_seconds(col("session_end")), col("node"), col("n_frames"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // node 2's session is still open (not emitted); node 1's two are final
    assert(rows === Set((1000L, 1035L, 1L, 2L), (1040L, 1070L, 1L, 1L)))
  }

  test("S3 e2e: the production run() path consumes a real TCP socket") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    val server = new java.net.ServerSocket(0)
    val c = GatewayConf(
      listeners = Seq(ListenerConf("sock", dialect = "socket",
        host = "localhost", port = server.getLocalPort, embeddedTimestamp = true)),
      buffers = Seq(BufferConf("main", s"$out/main", periodSeconds = 0)),
      checkpointRoot = ckpt)
    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("1000 7 3.0", "1004 7 5.0", "garbage").foreach(w.println)
      w.flush() // connection stays open; the query is stopped by the test
    })
    feeder.setDaemon(true)
    feeder.start()
    val queries = Gateway.run(spark, c)
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var st = Map.empty[(Long, Long, Int), (Long, Double)]
      while (st.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(500)
        st =
          try finalState(s"$out/main")
          catch { case _: Throwable => Map.empty }
      }
      assert(st === Map((1000L, 7L, 0) -> (2L, 8.0)))
    } finally {
      queries.foreach(_.stop())
      server.close()
    }
  }

  test("S1 rehearsal: a serial→TCP bridge stub feeds the production socket path, writeback stays bridge-side") {
    // The S1/S2 design note (Gateway.scala): serial hardware is
    // bridged to the S3 socket source (`socat /dev/tty… TCP-LISTEN`),
    // and the RFM2Pi radio-settings writeback stays IN the bridge.
    // This sandbox has no UART, so rehearse the full pattern with the
    // closest physical stand-in: a byte PIPE plays the serial port
    // (with adversarial write fragmentation — a 9600-baud UART
    // delivers bytes, not lines), a line-unaware pump thread plays
    // socat, and the gateway consumes the UNCHANGED S3 socket path.
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    // serial RX (device → bridge) and TX (bridge → device) lines
    val serialRx = new java.io.PipedInputStream(4096)
    val deviceTx = new java.io.PipedOutputStream(serialRx)
    val deviceRx = new java.io.PipedInputStream(4096)
    val serialTx = new java.io.PipedOutputStream(deviceRx)
    val deviceInit = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = new java.net.ServerSocket(0)
    // the bridge: write the radio init commands to the serial TX line
    // (the reference keeps frequency/group/baseid side effects exactly
    // here), then pump serial RX bytes to the accepted TCP connection
    // verbatim — no line framing, no decoding, no gateway logic
    val bridge = new Thread(() => {
      serialTx.write("4b\n210g\n".getBytes("US-ASCII")); serialTx.flush()
      val sock = server.accept()
      val os = sock.getOutputStream
      val buf = new Array[Byte](64)
      var n = serialRx.read(buf)
      while (n >= 0) { os.write(buf, 0, n); os.flush(); n = serialRx.read(buf) }
    })
    bridge.setDaemon(true)
    bridge.start()
    // the device: a real RFM2Pi streams only after it is configured —
    // block on the init commands, record them, then emit frames in
    // fragments that split lines mid-token across writes
    val device = new Thread(() => {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(deviceRx, "US-ASCII"))
      deviceInit.put(r.readLine()); deviceInit.put(r.readLine())
      Seq("1000 7 3", ".0\n1004 7 5.0\nga", "rbage\n").foreach { chunk =>
        deviceTx.write(chunk.getBytes("US-ASCII")); deviceTx.flush()
        Thread.sleep(50) // inter-write gap: fragments arrive as separate reads
      }
    })
    device.setDaemon(true)
    device.start()
    val c = GatewayConf(
      listeners = Seq(ListenerConf("serial0", dialect = "socket",
        host = "localhost", port = server.getLocalPort, embeddedTimestamp = true)),
      buffers = Seq(BufferConf("main", s"$out/main", periodSeconds = 0)),
      checkpointRoot = ckpt)
    val queries = Gateway.run(spark, c)
    try {
      // the writeback direction really ran, and before any data flowed
      assert(deviceInit.poll(30, java.util.concurrent.TimeUnit.SECONDS) === "4b")
      assert(deviceInit.poll(30, java.util.concurrent.TimeUnit.SECONDS) === "210g")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var st = Map.empty[(Long, Long, Int), (Long, Double)]
      while (st.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(500)
        st =
          try finalState(s"$out/main")
          catch { case _: Throwable => Map.empty }
      }
      // same result as the direct-TCP S3 e2e: fragmentation is
      // reassembled by the socket source, malformed frames drop
      assert(st === Map((1000L, 7L, 0) -> (2L, 8.0)))
    } finally {
      queries.foreach(_.stop())
      server.close()
    }
  }

  test("streaming feed state: latest reading per (node, channel) maintained incrementally") {
    // R26's streaming twin — the reference's live emoncms feed state
    // ("current value per input") as an incrementally-maintained
    // argmax aggregate: state is ONE row per (node, channel) — bounded
    // by key cardinality, not history — and, unlike the reference's
    // receipt-time daemon (where a late frame would overwrite the feed
    // with stale data), the event-time argmax ignores out-of-order
    // frames older than the held reading.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val latest = Gateway.decode(ms.toDF(), listener)
      .select(col("ts"), col("node"), posexplode(col("values")))
      .select(col("ts"), col("node"), col("pos").as("channel"), col("col").as("v"))
      .groupBy(col("node"), col("channel"))
      .agg(max(struct(col("ts"), col("v"))).as("k"))
      .select(col("node"), col("channel"),
        col("k.ts").as("last_ts"), col("k.v").as("last_value"))
    val q = latest.writeStream.format("memory")
      .queryName("feed_state").outputMode("complete").start()
    def state = spark.table("feed_state").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getTimestamp(2).getTime / 1000, r.getDouble(3)))).toMap
    try {
      ms.addData("1000 7 3.0 4.5", "1004 9 2.5")
      q.processAllAvailable()
      assert(state === Map(
        (7L, 0) -> ((1000L, 3.0)), (7L, 1) -> ((1000L, 4.5)), (9L, 0) -> ((1004L, 2.5))))
      // node 7 advances; node 9's frame is OLDER and must not win
      ms.addData("1010 7 9.9 4.5", "999 9 8.8")
      q.processAllAvailable()
      assert(state === Map(
        (7L, 0) -> ((1010L, 9.9)), (7L, 1) -> ((1010L, 4.5)), (9L, 0) -> ((1004L, 2.5))))
    } finally q.stop()
  }

  test("streaming downsample: last reading per (window, node), watermark-bounded state") {
    // R25's streaming twin: regularize the irregular stream onto the
    // window grid by keeping the LAST reading of each (window, node)
    // — the live downsampler in front of a charting sink. Unlike the
    // batch resample there is no forward fill (an empty window emits
    // nothing; filling it would require the batch view), but state is
    // watermark-bounded like every other windowed aggregate here.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val down = Gateway.decode(ms.toDF(), listener)
      .select(col("ts"), col("node"), element_at(col("values"), 1).as("v"))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 seconds"), col("node"))
      .agg(max(struct(col("ts"), col("v"))).as("k"))
      .select(unix_seconds(col("window.start")).as("w"), col("node"),
        col("k.v").as("last_value"))
    val q = down.writeStream.format("memory")
      .queryName("downsampled").outputMode("complete").start()
    try {
      // two readings inside one 10s window: the later one wins; a
      // third reading in the next window emits its own grid row
      ms.addData("1003 7 3.0", "1007 7 5.5", "1012 7 8.0")
      q.processAllAvailable()
      val got = spark.table("downsampled").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got === Map((1000L, 7L) -> 5.5, (1010L, 7L) -> 8.0))
    } finally q.stop()
  }

  test("supervised gateway outlives a dead run: spool listener, auto-restart, no loss") {
    // the reference daemon never exits — a dropped peer is retried
    // forever. Gateway.supervise applies the B5 kill-restart contract
    // automatically: when a run dies, it relaunches the pipeline from
    // the same checkpoints. Restartability requires a RECOVERABLE
    // listener (the socket source fails committing offsets its fresh
    // connection never served — Spark's own production warning), so
    // this drives the spool-file bridge shape: frames spooled before
    // the crash and after the restart must BOTH land, exactly once.
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    val spool = Files.createTempDirectory("gw-spool")
    def spoolFrames(name: String, frames: Seq[String]): Unit = {
      val tmp = Files.createTempFile(spool, "w", ".tmp")
      Files.write(tmp, frames.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, spool.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val c = GatewayConf(
      listeners = Seq(ListenerConf("spool", dialect = "socket",
        embeddedTimestamp = true, spoolDir = Some(spool.toString))),
      buffers = Seq(BufferConf("main", s"$out/main", periodSeconds = 0)),
      checkpointRoot = ckpt)
    spoolFrames("a.txt", Seq("1000 7 3.0", "1004 7 5.0"))
    val sup = Gateway.supervise(spark, c, backoffMs = 500, maxRestarts = 20)
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def state() =
        try finalState(s"$out/main")
        catch { case _: Throwable => Map.empty[(Long, Long, Int), (Long, Double)] }
      while (state().get((1000L, 7L, 0)) != Some((2L, 8.0)) && System.nanoTime() < deadline)
        Thread.sleep(500)
      assert(state().get((1000L, 7L, 0)) === Some((2L, 8.0)), "pre-crash frames lost")
      // kill the run out from under the supervisor (stands in for any
      // fatal failure: sink exception, executor loss, OOM)
      sup.queries.foreach(_.stop())
      spoolFrames("b.txt", Seq("1100 9 2.5"))
      while (state().get((1100L, 9L, 0)) != Some((1L, 2.5)) && System.nanoTime() < deadline)
        Thread.sleep(500)
      val st = state()
      assert(st.get((1100L, 9L, 0)) === Some((1L, 2.5)), s"post-restart frame lost: $st")
      // pre-crash state survived the restart unchanged: no loss, and
      // the already-processed spool file was not re-read (no dup)
      assert(st.get((1000L, 7L, 0)) === Some((2L, 8.0)), s"restart lost or duplicated state: $st")
      assert(sup.restartCount >= 1, "the supervisor never restarted anything")
    } finally sup.stop()
  }

  test("idle-timeout restarts are harmless on a recoverable listener") {
    // the supervisor's false-positive safety claim: silence and death
    // are indistinguishable, so an idle restart must cost NOTHING —
    // state intact, nothing re-read, and the next frames still land.
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    val spool = Files.createTempDirectory("gw-spool")
    def spoolFrames(name: String, frames: Seq[String]): Unit = {
      val tmp = Files.createTempFile(spool, "w", ".tmp")
      Files.write(tmp, frames.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, spool.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val c = GatewayConf(
      listeners = Seq(ListenerConf("spool", dialect = "socket",
        embeddedTimestamp = true, spoolDir = Some(spool.toString))),
      buffers = Seq(BufferConf("main", s"$out/main", periodSeconds = 0)),
      checkpointRoot = ckpt)
    spoolFrames("a.txt", Seq("1000 7 3.0"))
    // maxRestarts must survive a contended machine: with a 4 s idle
    // timeout, a long scheduler stall fires an idle restart every few
    // seconds, and exhausting the budget stops supervision entirely —
    // the post-idle frame then never lands (the one full-suite flake
    // of r16). The production knob stays small; the TEST budget is
    // sized to the 120 s deadline, not to a quiet machine.
    val sup = Gateway.supervise(spark, c, backoffMs = 500, maxRestarts = 1000,
      idleTimeoutMs = 4000)
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def state() =
        try finalState(s"$out/main")
        catch { case _: Throwable => Map.empty[(Long, Long, Int), (Long, Double)] }
      while (state().get((1000L, 7L, 0)) != Some((1L, 3.0)) && System.nanoTime() < deadline)
        Thread.sleep(500)
      assert(state().get((1000L, 7L, 0)) === Some((1L, 3.0)))
      // go quiet past the idle timeout: at least one false-positive
      // restart must fire, and must change nothing
      while (sup.restartCount < 1 && System.nanoTime() < deadline) Thread.sleep(500)
      assert(sup.restartCount >= 1, "idle timeout never fired")
      assert(state().get((1000L, 7L, 0)) === Some((1L, 3.0)),
        "an idle restart lost or duplicated state")
      // and the pipeline still ingests after the pointless restart
      spoolFrames("b.txt", Seq("1100 9 2.5"))
      while (state().get((1100L, 9L, 0)) != Some((1L, 2.5)) && System.nanoTime() < deadline)
        Thread.sleep(500)
      assert(state().get((1100L, 9L, 0)) === Some((1L, 2.5)),
        s"post-idle-restart frame lost: ${state()}")
    } finally sup.stop()
  }

  test("a partly started supervised run leaves no query running outside the supervisor") {
    // buffer b's checkpoint path is a regular file, so b's start
    // throws after a's query is already running: every round is a
    // partial start, and each must stop what it started before the
    // next round tries the same query names and checkpoints
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt")
    val spool = Files.createTempDirectory("gw-spool")
    Files.write(ckpt.resolve("b"), Array.emptyByteArray)
    val c = GatewayConf(
      listeners = Seq(ListenerConf("spool", dialect = "socket",
        embeddedTimestamp = true, spoolDir = Some(spool.toString))),
      buffers = Seq(
        BufferConf("a", s"$out/a", periodSeconds = 0),
        BufferConf("b", s"$out/b", periodSeconds = 0)),
      checkpointRoot = ckpt.toString)
    def gatewayQueries = spark.streams.active.filter(q => Option(q.name).exists(_.startsWith("gateway-")))
    val sup = Gateway.supervise(spark, c, backoffMs = 200, maxRestarts = 5)
    try {
      // a query outside sup.queries is in flight while a round starts
      // it; one still running after the round counter moved on is leaked
      val strayRounds = scala.collection.mutable.Map.empty[java.util.UUID, Set[Int]]
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (sup.restartCount < 5 && System.nanoTime() < deadline) {
        val round = sup.restartCount
        val own = sup.queries.map(_.runId).toSet
        val strays = gatewayQueries.filterNot(q => own(q.runId))
        if (sup.restartCount == round) strays.foreach { q =>
          strayRounds(q.runId) = strayRounds.getOrElse(q.runId, Set.empty) + round
        }
        Thread.sleep(10)
      }
      assert(sup.restartCount === 5, "the restart budget was not spent")
      val leaked = strayRounds.filter(_._2.size > 1)
      assert(leaked.isEmpty, s"queries outlived the round that started them: $leaked")
      val own = sup.queries.map(_.runId).toSet
      assert(gatewayQueries.forall(q => own(q.runId)),
        s"queries outside sup.queries: ${gatewayQueries.map(_.name).mkString(", ")}")
      sup.stop()
      assert(gatewayQueries.isEmpty,
        s"queries still active after stop(): ${gatewayQueries.map(_.name).mkString(", ")}")
    } finally {
      sup.stop()
      gatewayQueries.foreach(_.stop()) // keep a leak from colliding with later tests
    }
  }

  test("windowed state runs on the RocksDB state store (the 100 TB knob)") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[String]
      ms.addData("1000 3 1.5", "1004 3 2.5")
      runToCompletion(ms, conf(out, ckpt))
      assert(finalState(s"$out/main") === Map((1000L, 3L, 0) -> (2L, 4.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("stream-static enrichment: per-node calibration joins the decoded stream statelessly") {
    // emonhub — the reference's direct successor — applies per-node
    // scales/offsets to decoded values; the Spark shape for that is a
    // stream-STATIC join (stateless: no watermark, no join state, the
    // dim broadcasts into every micro-batch), which is the right
    // contract for slowly-changing config refreshed on restart
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[String]
    val calib = Seq((1L, 0.1, 100.0), (2L, 1.0, 0.0))
      .toDF("node", "scale", "offset")
    val enriched = Gateway.decode(ms.toDF(), listener)
      .join(broadcast(calib), Seq("node"))
      .select(col("node"),
        (element_at(col("values"), 1) * col("scale") + col("offset")).as("calibrated"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("calib").start()
    try {
      ms.addData("1000 1 50.0", "1000 2 7.5", "1000 9 1.0") // node 9: no calibration row
      q.processAllAvailable()
      val rows = spark.table("calib").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows === Map(1L -> 105.0, 2L -> 7.5)) // inner join drops unconfigured nodes
    } finally q.stop()
  }

  test("stream-stream join: readings pair with their node's trailing commands, state bounded") {
    // the command channel is a STREAM (unlike the calibration dim), so
    // this is the symmetric-state join: both sides watermarked, the
    // event-time band in the ON clause is what lets Spark expire
    // buffered rows — without it the state store grows unboundedly
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val frames = MemoryStream[String]
    val cmds = MemoryStream[(Long, Long, String)]
    val cmdDf = cmds.toDF().toDF("node", "cts_s", "cmd")
      .select(col("node"), timestamp_seconds(col("cts_s")).as("cts"), col("cmd"))
    val joined = Gateway.correlateCommands(
      Gateway.decode(frames.toDF(), listener), cmdDf)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("cmdjoin").start()
    try {
      cmds.addData(
        (1L, 1990L, "set_rate"),  // 10 s before node 1's reading → match
        (1L, 2020L, "late_cmd"),  // after the reading → no match
        (1L, 1900L, "stale_cmd"), // 100 s before → outside the 30 s horizon
        (2L, 1995L, "set_group")) // other node, in horizon → match
      frames.addData("2000 1 1.0", "2000 2 2.0", "2000 9 9.0") // node 9: no commands
      q.processAllAvailable()
      val got = spark.table("cmdjoin").collect()
        .map(r => (r.getLong(0), r.getString(3))).toSet
      assert(got === Set((1L, "set_rate"), (2L, "set_group")))
      // the plan really is the symmetric stateful join, not a rewrite
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StreamingSymmetricHashJoin"), plan.take(2000))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: un-commanded readings emit with nulls after the watermark") {
    // outer rows can only emit once Spark PROVES no matching command
    // can still arrive — i.e. after the command watermark passes the
    // reading's horizon. The test drives the watermark forward with a
    // second batch and checks the null-padded row appears then, not
    // in the reading's own batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val frames = MemoryStream[String]
    val cmds = MemoryStream[(Long, Long, String)]
    val cmdDf = cmds.toDF().toDF("node", "cts_s", "cmd")
      .select(col("node"), timestamp_seconds(col("cts_s")).as("cts"), col("cmd"))
    val joined = Gateway.correlateCommands(
      Gateway.decode(frames.toDF(), listener), cmdDf,
      watermarkDelay = "10 seconds", joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("cmdouter").start()
    try {
      cmds.addData((1L, 1995L, "set_rate"))
      frames.addData("2000 1 1.0", "2000 9 9.0") // node 9: never commanded
      q.processAllAvailable()
      def rows = spark.table("cmdouter").collect()
        .map(r => (r.getLong(0), Option(r.getString(3)))).toSet
      assert(rows === Set((1L, Some("set_rate"))),
        "outer row emitted before the watermark could prove no-match")
      // advance both watermarks well past 2000 + horizon + delay
      cmds.addData((1L, 2100L, "noop"))
      frames.addData("2100 1 1.0")
      q.processAllAvailable()
      // one more cycle: watermark computed at batch START, so the
      // state eviction that emits the outer row needs a follow-up batch
      cmds.addData((1L, 2101L, "noop2"))
      frames.addData("2101 1 1.0")
      q.processAllAvailable()
      assert(rows.contains((9L, None)),
        s"null-padded reading never emitted: $rows")
    } finally q.stop()
  }

  test("curated document feed: parse → X35 gate → window runs under the streaming engine ≡ batch") {
    // the north-star composition (ETL gateway + LLM curation) as one
    // STREAMING pipeline, not just the CurationSpec unit pin: doc-feed
    // lines through Gateway.curatedFeed on a MemoryStream, append-mode
    // windows flushed by a far-future row, compared to the batch run
    // of the identical composition on the identical lines
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val en = "the a of to and is in " + (1 to 14).map(i => s"tok$i").mkString(" ")
    val junk = (1 to 25).map(i => s"x$i").mkString(" ")
    val lines = Seq(
      s"1000 1 $en", s"1003 2 $en", s"1005 3 $junk", // junk fails is_en
      s"1012 4 $en", s"1015 5 short text",           // short fails is_quality
      s"1017 6 $en")
    // flush rows must PASS the gates: Catalyst pushes the stateless
    // gate predicate below the EventTimeWatermark node, so only
    // admitted rows advance event time — a gate-failing flush would
    // never close the windows (observed; the debug progress showed
    // the watermark pinned while the flush batch reported no event
    // time). Far-future ts keeps their own window unemitted.
    val flush = s"9999 99 $en"
    val ms = MemoryStream[String]
    val sink = s"curated_feed_${System.nanoTime()}"
    val q = Gateway.curatedFeed(ms.toDF())
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      ms.addData(flush)
      q.processAllAvailable()
      // watermark is computed at batch START, so the eviction that
      // emits the closed windows needs one follow-up batch
      ms.addData(s"9999 100 $en")
      q.processAllAvailable()
      val streamed = spark.table(sink)
        .select(unix_seconds(col("window_start")), col("n_admitted"), col("admitted_chars"))
        .as[(Long, Long, Long)].collect().toSet
      val batch = Gateway.curatedFeed(lines.toDF("value"))
        .select(unix_seconds(col("window_start")), col("n_admitted"), col("admitted_chars"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streaming composition diverges from batch: $streamed vs $batch")
      // and the gates actually gated: 4 of 6 docs admitted, 2 windows
      assert(batch.toSeq.map(_._2).sum === 4L && batch.size === 2, s"unexpected admission: $batch")
    } finally q.stop()
  }

  test("streaming incremental dedup flags exactly the batch X53 incoming set") {
    // the ingest-time form of q_dedup_incr: the X53 incoming half
    // (doc_id % 4 == 0) replayed as a document feed, stream-static
    // joined against the SAME prebuilt band/shingle index the batch
    // query derives — the flagged quarantine set must equal the batch
    // query's verified incoming ids exactly (in-row signatures ==
    // sketch-aggregate signatures, band keys equal, same Jaccard cut)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val incoming = graft.operators.Dedup.corpus(spark, dir)
      .filter(col("doc_id") % 4 === 0)
      .collect().map(r => s"1000 ${r.getLong(0)} ${r.getString(1)}")
    val (bands, sets) = graft.operators.Dedup.incrementalIndex(spark, dir)
    val ms = MemoryStream[String]
    val sink = s"dedup_feed_${System.nanoTime()}"
    val q = Gateway.dedupFeed(ms.toDF(), bands, sets)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(incoming.toSeq: _*)
      q.processAllAvailable()
      // duplicate delivery of the same feed must not re-flag: the
      // within-watermark dedup state absorbs the at-least-once replay
      ms.addData(incoming.take(5).toSeq: _*)
      q.processAllAvailable()
      val flagged = spark.table(sink).select("doc_id").as[Long].collect().toList
      val batch = SparkEntry.queries("q_dedup_incr")(spark, dir)
        .select("id_a").as[Long].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no split-crossing near-dups at this SF")
      assert(flagged.toSet === batch,
        s"streamed quarantine ${flagged.toSet} != batch incremental $batch")
      assert(flagged.size === flagged.toSet.size, "replayed rows were re-flagged")
    } finally q.stop()
  }

  test("streaming media dedup flags exactly the batch X111 dup pairs, parser shared") {
    // the ingest-time form of q_media_dedup: every batch video
    // container replayed as a hex feed, decoded by the SAME TLV
    // parser, print-set-swept against the SAME static print index —
    // the streamed quarantine pairs (normalized unordered) must equal
    // the batch is_dup=1 pairs exactly, shared counts included
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the full X111 video corpus INCLUDING the planted re-encode
    // copies — both endpoints of every planted dup pair stream, so
    // each unordered pair is flagged from both directions
    val feed = graft.operators.Multimodal.videoContainers(spark, dir)
      .select(col("container")).as[Array[Byte]].collect()
      .map(b => s"1000 ${b.map("%02X".format(_)).mkString}")
    val ms = MemoryStream[String]
    val sink = s"media_feed_${System.nanoTime()}"
    val q = Gateway.mediaFeed(ms.toDF(),
        graft.operators.Multimodal.framePrintSets(spark, dir))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(feed.toSeq: _*)
      q.processAllAvailable()
      // at-least-once replay must not re-flag a (doc, idx) pair
      ms.addData(feed.take(3).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table(sink)
        .select("doc_id", "idx_doc", "shared")
        .as[(Long, Long, Long)].collect().toList
      val batch = SparkEntry.queries("q_media_dedup")(spark, dir)
        .filter(col("is_dup") === 1L)
        .select("doc_a", "doc_b", "shared")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no dup pair at this SF")
      // full sweep sees each unordered pair from both sides
      val normalized = streamed
        .map { case (a, b, s) => (math.min(a, b), math.max(a, b), s) }.toSet
      assert(normalized === batch,
        s"streamed quarantine $normalized != batch dup pairs $batch")
      assert(streamed.size === streamed.toSet.size, "replayed rows were re-flagged")
      assert(streamed.size === 2 * batch.size,
        "each unordered pair should be flagged from both directions exactly once")
    } finally q.stop()
  }

  test("streaming semantic decontam flags exactly the batch X100 pair set, scores equal") {
    // the ingest-time form of q_decontam_semantic: the batch train
    // side (including the planted perturbed copies) replayed as an
    // embedding feed, stream-static threshold-joined against the SAME
    // eval-suite artifact — streamed (vec, eval, score) rows must
    // equal the batch pre-argmax hit chain exactly (same cosine op
    // sequence, same round-4 compare-on-rounded cut)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val feed = graft.operators.Curation.trainVecs(spark, dir)
      .collect().map { r =>
        val csv = r.getSeq[Double](1).map(_.toString).mkString(",")
        s"1000 ${r.getLong(0)} $csv"
      }
    val ms = MemoryStream[String]
    val sink = s"decontam_feed_${System.nanoTime()}"
    val q = Gateway.decontamFeed(ms.toDF(), graft.operators.Curation.evalVecs(spark, dir))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(feed.toSeq: _*)
      q.processAllAvailable()
      // at-least-once replay must not re-flag a (vec, eval) pair
      ms.addData(feed.take(3).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table(sink)
        .select("vec_id", "eval_id", "score")
        .as[(Long, Long, Double)].collect().toList
      val batch = graft.operators.Curation.semanticHits(spark, dir)
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no contaminated pairs at this SF")
      assert(streamed.toSet === batch,
        s"streamed pairs ${streamed.toSet} != batch hits $batch")
      assert(streamed.size === streamed.toSet.size, "replayed rows were re-flagged")
    } finally q.stop()
  }

  test("streaming ingest pipeline: strip → gates → clf → incremental dedup → per-source summary, stream == batch == recount") {
    // The composition flagship live: real sf0.001 docs (with the X52
    // boilerplate plant so the strip stage strips) spread over three
    // event-time days, banded against the SAME prebuilt X53 index the
    // batch query uses. Pins: stream ≡ batch; every fate column
    // reconstructed from the building-block functions (strip/gates/
    // clf batch-collected) with the dup flags from the ALREADY-pinned
    // dedupFeed on the same stripped lines — so the one new thing
    // this query adds (the wiring) is what the recount isolates; and
    // the per-window source cap fires on the small cap.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // RAW text (no normText, unlike the admitFeed fixture): the X53
    // index is built on the raw corpus, and normalizing the feed
    // would change every shingle and void the dup stage
    val bp = "this content is mirrored from the upstream boilerplate navigation footer menu text"
    val planted = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0, concat(lit(bp + " "), col("text")))
          .otherwise(col("text")).as("text"))
    val hot = graft.operators.Dedup.boilerplateHotSet(planted)
    assert(hot.nonEmpty, "vacuous: no hot set")
    val (bands, sets) = graft.operators.Dedup.incrementalIndex(spark, dir)
    val meta = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    val base = 1700000000L
    val docs = planted.filter(col("doc_id") % 4 === 0)
      .select("doc_id", "text").collect()
      .map(r => (base + (r.getLong(0) % 3) * 86400, r.getLong(0), r.getString(1)))
    val lines = docs.map { case (s, id, t) => s"$s $id $t" }.toSeq
    // raw-case text fails most gates (the gates expect the normalized
    // corpus), so admissions are scarce here — cap 0 makes ANY
    // admission exceed the per-window budget, exercising the flag
    val cap = 0L
    val ms = MemoryStream[String]
    val sink = s"ingest_feed_${System.nanoTime()}"
    val q = Gateway.ingestFeed(ms.toDF(), hot, bands, sets, meta, cap, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val byDay = docs.groupBy { case (s, _, _) => (s / 86400) * 86400 }.toSeq.sortBy(_._1)
      for ((_, rows) <- byDay) {
        val ls = scala.util.Random.shuffle(rows.map { case (s, id, t) => s"$s $id $t" }.toSeq)
        val (h1, h2) = ls.splitAt(ls.size / 2)
        ms.addData(h1: _*); q.processAllAvailable()
        ms.addData(h2: _*); q.processAllAvailable()
      }
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"), col("source"),
        col("n_seen"), col("n_stripped"), col("n_gate_fail"), col("n_clf_reject"),
        col("n_dup"), col("n_admitted"), col("admit_rate"), col("cap_fired"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Long, Double, Long)]
        .collect().toSet
      val batch = Gateway.ingestFeed(lines.toDF("value"), hot, bands, sets, meta,
        cap, "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Long, Double, Long)]
        .collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming ingest summary diverges from batch")
      // per-doc flags off the building blocks, dup off the pinned dedupFeed
      val parsed = docs.toSeq.toDF("s", "doc_id", "text")
        .select(col("doc_id"), col("text"))
      val stripped = graft.operators.Dedup.stripWithHot(parsed, hot)
      val flags = graft.operators.Curation.withClfColumns(
        graft.operators.Curation.withGateVerdicts(stripped))
        .select(col("doc_id"), col("bp_dropped"),
          (col("is_kept") === 1).cast("long").as("gate"),
          when(col("clf_keep"), 1L).otherwise(0L).as("clf"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val strippedLines = stripped.select(col("doc_id"), col("text")).collect()
        .map { r =>
          val id = r.getLong(0)
          val day = docs.find(_._2 == id).get._1
          s"$day $id ${r.getString(1)}"
        }
      // dedupFeed is streaming-only (dropDuplicatesWithinWatermark),
      // so its leg of the recount runs under the streaming engine too
      val ms2 = MemoryStream[String]
      val sink2 = s"ingest_dup_recount_${System.nanoTime()}"
      val q2 = Gateway.dedupFeed(ms2.toDF(), bands, sets)
        .writeStream.format("memory").queryName(sink2).outputMode("append").start()
      val dupIds =
        try {
          ms2.addData(strippedLines.toSeq: _*)
          q2.processAllAvailable()
          spark.table(sink2).select("doc_id").as[Long].collect().toSet
        } finally q2.stop()
      val srcOf = meta.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = docs.groupBy { case (s, id, _) =>
        ((s / 86400) * 86400, srcOf(id))
      }.map { case ((ws, src), rows) =>
        val f = rows.map { case (_, id, _) =>
          val (b, g, c) = flags(id)
          val d = if (dupIds(id)) 1L else 0L
          (b, g, c, d)
        }
        val seen = f.size.toLong
        val adm = f.count { case (_, g, c, d) => d == 0 && g == 1 && c == 1 }.toLong
        (ws, src, seen,
          f.count(_._1 > 0).toLong,
          f.count { case (_, g, _, d) => d == 0 && g == 0 }.toLong,
          f.count { case (_, g, c, d) => d == 0 && g == 1 && c == 0 }.toLong,
          f.count(_._4 == 1).toLong,
          adm,
          ((20000 * adm + seen) / (2 * seen)) / 10000.0,
          if (adm > cap) 1L else 0L)
      }.toSet
      assert(batch === expected, "ingest summary diverges from the building-block recount")
      // the pipeline is non-vacuous at every stage, and the cap fires
      assert(streamed.exists(_._4 > 0), "strip stage never stripped")
      assert(streamed.exists(_._5 > 0), "gate stage never failed anything")
      assert(streamed.exists(_._7 > 0), "dedup stage never flagged a dup")
      assert(streamed.exists(_._8 > 0), "nothing admitted")
      assert(streamed.exists(_._10 == 1L) && streamed.exists(_._10 == 0L),
        s"cap must fire somewhere and not everywhere: $streamed")
    } finally q.stop()
  }

  test("streaming admission: strip → gates → DSIR weights ≡ the batch composition row-for-row") {
    // the r14 ingest path: the X52 hot set and X58 dictionary are the
    // bounded offline artifacts, the stream strips/gates/scores
    // against them — same lines through Gateway.admitFeed under the
    // streaming engine and as a batch frame must agree row-for-row
    // (the integer fixed-point sum is what makes this pinnable: no
    // float reassociation across micro-batch boundaries)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // plant a 12-token boilerplate prefix on every 7th doc so the hot
    // set is non-empty on this natural corpus (the declared X52 query
    // plants the same way)
    val bp = "this content is mirrored from the upstream boilerplate navigation footer menu text"
    val planted = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.normText(
          when(col("doc_id") % 7 === 0, concat(lit(bp + " "), col("text")))
            .otherwise(col("text"))).as("text"))
    val hot = graft.operators.Dedup.boilerplateHotSet(planted)
    assert(hot.nonEmpty, "vacuous pin: planted boilerplate did not reach the hot set")
    val dict = graft.operators.Curation.dsirDict(planted).cache()
    dict.count()
    try {
      val feed = planted.filter(col("doc_id") % 5 === 0)
        .collect().map(r => s"1000 ${r.getAs[Long]("doc_id")} ${r.getAs[String]("text")}")
      val en = "the a of to and is in " + (1 to 14).map(i => s"tok$i").mkString(" ")
      val ms = MemoryStream[String]
      val sink = s"admit_feed_${System.nanoTime()}"
      val q = Gateway.admitFeed(ms.toDF(), hot, dict)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        ms.addData(feed.toSeq: _*)
        q.processAllAvailable()
        // gate-passing far-future rows advance the watermark and close
        // the feed's windows (their own window stays unemitted)
        ms.addData(s"9999 9990 $en")
        q.processAllAvailable()
        ms.addData(s"9999 9991 $en")
        q.processAllAvailable()
        val cols = Seq(unix_seconds(col("window_start")), col("doc_id"),
          col("bp_dropped"), col("n_bigrams"), col("logratio"),
          col("clf_logit6"), col("clf_keep"))
        val streamed = spark.table(sink)
          .select(cols: _*)
          .as[(Long, Long, Long, Long, Double, Long, Boolean)].collect().toSet
        val batch = Gateway.admitFeed(feed.toSeq.toDF("value"), hot, dict)
          .select(cols: _*)
          .as[(Long, Long, Long, Long, Double, Long, Boolean)].collect().toSet
        assert(batch.nonEmpty, "vacuous pin: no doc in the feed survived admission")
        assert(streamed === batch,
          s"streaming admission diverges from batch: $streamed vs $batch")
        // the strip branch is non-vacuous: some admitted doc lost its
        // planted boilerplate window on the way in
        assert(batch.exists(_._3 > 0L), s"no admitted doc was stripped: $batch")
        // and the weights are the X58 composition's: score the same
        // stripped survivors with dsirFrom over the same corpus
        val admittedIds = batch.map(_._2)
        val strippedDocs = graft.operators.Dedup.stripWithHot(planted, hot)
          .filter(col("doc_id").isin(admittedIds.toSeq: _*))
          .select(col("doc_id"), col("text"))
        val direct = graft.operators.Curation.dsirFrom(planted, strippedDocs)
          .collect().map(r => r.getLong(0) -> r.getAs[Double]("logratio")).toMap
        batch.foreach { case (_, id, _, _, lr, _, _) =>
          assert(direct(id) === lr, s"stream weight for $id diverges from dsirFrom")
        }
        // and the in-row X67 columns are the DECLARED classifier's
        // arithmetic: score the same stripped survivors through
        // withClfColumns (the batch-query twin, feature-for-feature)
        val clfDirect = graft.operators.Curation.withClfColumns(strippedDocs)
          .select(col("doc_id"), col("clf_logit6"), col("clf_keep"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
        batch.foreach { case (_, id, _, _, _, lg, kp) =>
          assert(clfDirect(id) === ((lg, kp)),
            s"stream classifier for $id diverges from the in-row twin")
        }
      } finally q.stop()
    } finally dict.unpersist()
  }

  test("streaming snapshot delta: classify vs static manifest → rule gate ≡ batch row-for-row") {
    // the X72+X73 ingest shape: the previous-version manifest is the
    // bounded offline artifact; the stream classifies against it,
    // drops 'unchanged', and rule-gates the survivors. Stream and
    // batch run the SAME stateless projections, so they must agree
    // row-for-row; the classification itself is recounted against the
    // planted derivation.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // manifest = the X72 old snapshot: %13==5 docs missing (added),
    // %17==0 docs carry a stale-revision hash (changed)
    val manifest = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 0, md5(concat(col("text"), lit(" v1"))))
          .otherwise(md5(col("text"))).as("old_hash"))
      .cache()
    manifest.count()
    try {
      val feed = docs.collect()
        .map(r => s"1000 ${r.getLong(0)} ${r.getString(1)}")
      val ms = MemoryStream[String]
      val sink = s"delta_feed_${System.nanoTime()}"
      val q = Gateway.deltaFeed(ms.toDF(), manifest)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        ms.addData(feed.toSeq: _*)
        q.processAllAvailable()
        val cols = Seq(unix_seconds(col("ts")), col("doc_id"), col("status"),
          col("n_failed"), col("keep"))
        val streamed = spark.table(sink).select(cols: _*)
          .as[(Long, Long, String, Long, Boolean)].collect().toSet
        val batch = Gateway.deltaFeed(feed.toSeq.toDF("value"), manifest)
          .select(cols: _*)
          .as[(Long, Long, String, Long, Boolean)].collect().toSet
        assert(batch.nonEmpty, "vacuous pin: no added/changed doc in the feed")
        assert(streamed === batch, "streaming snapshot delta diverges from batch")
        // classification recount from the planted derivation: exactly
        // the %13==5 docs are added, exactly the %17==0 (and present)
        // docs are changed, nothing else passes
        val ids = docs.collect().map(_.getLong(0)).toSet
        val expAdded = ids.filter(_ % 13 == 5)
        val expChanged = ids.filter(id => id % 17 == 0 && id % 13 != 5)
        assert(batch.filter(_._3 == "added").map(_._2) === expAdded)
        assert(batch.filter(_._3 == "changed").map(_._2) === expChanged)
        // and the rule columns equal the declared X73 projection on
        // the same surviving docs
        val direct = graft.operators.Curation.withRuleFlags(
          docs.filter(col("doc_id").isin((expAdded ++ expChanged).toSeq: _*)))
          .select(col("doc_id"), col("n_failed"), col("keep"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
        batch.foreach { case (_, id, _, nf, kp) =>
          assert(direct(id) === ((nf, kp)), s"rule gate for $id diverges from the batch twin")
        }
      } finally q.stop()
    } finally manifest.unpersist()
  }

  test("late data beyond the watermark is dropped (documented superset of REF)") {
    val out = Files.createTempDirectory("gw-out").toString
    val ckpt = Files.createTempDirectory("gw-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val c = conf(out, ckpt)

    ms.addData("2000 1 1.0", "2100 1 1.0") // watermark after batch: 2100−60s
    runToCompletion(ms, c)
    ms.addData("500 9 9.0", "2095 1 1.0")  // 500 ≪ watermark → dropped; 2095 in bound
    runToCompletion(ms, c)

    val st = finalState(s"$out/main")
    assert(!st.keySet.exists { case (_, node, _) => node == 9L })
    // the in-bound late frame (2095, window [2090,2100)) was accepted
    assert(st((2090L, 1L, 0)) === (1L, 1.0))
    assert(st.keySet === Set((2000L, 1L, 0), (2100L, 1L, 0), (2090L, 1L, 0)))
  }

  test("streaming drift monitor: windowed KS vs a reference histogram, stream == batch == recount") {
    // Streaming X63: the reference histogram is the offline artifact
    // (here: the events table's EARLY half), the stream is the late
    // half, and the per-(window, type) KS must be identical under the
    // streaming engine, as a batch frame, and in a sequential driver
    // recount — the integer cross-multiplied fold is what makes the
    // three agree exactly (no float accumulates across micro-batches).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(unix_seconds(col("ts")).as("sec"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mid = (evs.map(_._1).min + evs.map(_._1).max) / 2
    val early = evs.filter(_._1 <= mid)
    val late = evs.filter(_._1 > mid)
    val binW = 10L
    def binOf(v: Double): Long = math.floor(v / binW).toLong
    val grid: Seq[Long] = evs.map(e => binOf(e._3)).min to evs.map(e => binOf(e._3)).max
    val refCounts = early.groupBy(e => binOf(e._3)).view.mapValues(_.size.toLong).toMap
    val refCum = grid.scanLeft(0L)((acc, b) => acc + refCounts.getOrElse(b, 0L)).tail
    val nRef = early.length.toLong
    val feed = late.map { case (s, t, v) => s"$s $t $v" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"drift_feed_${System.nanoTime()}"
    val q = Gateway.driftFeed(ms.toDF(), grid, refCum, nRef, binW, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(feed: _*)
      q.processAllAvailable()
      // far-future rows advance the watermark and close the feed's
      // windows; their own window stays unemitted
      ms.addData("9999999999 sentinel 0.0")
      q.processAllAvailable()
      ms.addData("9999999999 sentinel 0.0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("event_type"), col("n"), col("ks"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = Gateway.driftFeed(feed.toDF("value"), grid, refCum, nRef, binW, "1 day", "1 hour")
        .select(cols: _*).as[(Long, String, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, s"streaming drift diverges from batch")
      // sequential driver recount, UTC-epoch-aligned 1-day windows
      val expected = late.groupBy { case (s, t, _) => ((s / 86400) * 86400, t) }
        .map { case ((ws, t), rows) =>
          val n = rows.length.toLong
          val cnt = rows.groupBy(r =>
            math.min(math.max(binOf(r._3), grid.head), grid.last))
            .view.mapValues(_.size.toLong).toMap
          var cum = 0L; var mx = BigInt(0)
          grid.zipWithIndex.foreach { case (b, i) =>
            cum += cnt.getOrElse(b, 0L)
            val d = (BigInt(cum) * nRef - BigInt(refCum(i)) * n).abs
            if (d > mx) mx = d
          }
          val den = BigInt(n) * nRef
          (ws, t, n, ((mx * 20000 + den) / (den * 2)).toLong / 10000.0)
        }.toSet
      assert(batch === expected, "drift KS diverges from the sequential recount")
      // non-vacuous: some window genuinely drifted from the reference
      assert(streamed.exists(_._4 > 0.0), "all windows identical to reference — vacuous")
    } finally q.stop()
  }

  test("streaming novelty monitor: windowed OOV rate vs a static vocab, stream == batch == recount") {
    // Streaming X37/X80: the reference vocab is the offline top-20
    // artifact; docs arrive over three event-time days so several
    // windows close. The integer OOV percentage must agree under the
    // streaming engine, as a batch frame, and in a sequential driver
    // recount.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    // offline artifact: top-20 tokens by (count desc, token asc) — X37's rule
    val vocab = docs.flatMap(_._2.split(" ", -1)).groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.length) }
      .sortBy { case (t, c) => (-c, t) }.take(20).map(_._1)
    // spread docs over 3 days by doc_id so multiple daily windows close
    val base = 1700000000L
    val feed = docs.map { case (id, t) => (base + (id % 3) * 86400, id, t) }
    val lines = feed.map { case (s, id, t) => s"$s $id $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"novel_feed_${System.nanoTime()}"
    val q = Gateway.novelFeed(ms.toDF(), vocab, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_tokens"), col("n_oov"), col("oov_pct"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = Gateway.novelFeed(lines.toDF("value"), vocab, "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming novelty diverges from batch")
      val vset = vocab.toSet
      val expected = feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }
        .map { case (ws, rows) =>
          val toks = rows.flatMap(_._3.split(" ", -1))
          val n = toks.length.toLong
          val oov = toks.count(t => !vset(t)).toLong
          (ws, n, oov, (2000000L * oov + n) / (2 * n) / 10000.0)
        }.toSet
      assert(batch === expected, "novelty diverges from the sequential recount")
      assert(streamed.size >= 3, s"expected >= 3 closed daily windows, got ${streamed.size}")
      assert(streamed.exists(_._3 > 0) && streamed.forall(_._2 > 0),
        "vacuous: no OOV tokens anywhere")
    } finally q.stop()
  }

  test("streaming skew monitor: chained windowed aggs, stream == batch == recount, fired branch live") {
    // Streaming X128: two event-time days — day A healthy (near-uniform
    // keys), day B with one runaway key — so BOTH verdict branches
    // close out of the same feed. The audit must agree under the
    // streaming engine (two chained stateful aggregates), as a batch
    // frame, and in a BigInt driver recount of the keySkewOf math.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    val dayA = (0 until 60).map(i => (base + i, s"dev${i % 10}"))
    val dayB = (0 until 90).map(i =>
      (base + 86400 + i, if (i < 80) "hot" else s"cold${i % 10}"))
    val feed = dayA ++ dayB
    val lines = feed.map { case (s, k) => s"$s $k 0.0" }
    val ms = MemoryStream[String]
    val sink = s"skew_feed_${System.nanoTime()}"
    val q = Gateway.skewFeed(ms.toDF(), 4L, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      // scrambled delivery across micro-batches, but day-coherent: mixing
      // day-B timestamps into the first batch would advance the watermark
      // past day A and make its stragglers legitimately late — the test
      // exercises batch-boundary order-freedom, not late-data drops
      val aLines = dayA.map { case (s, k) => s"$s $k 0.0" }
      val bLines = dayB.map { case (s, k) => s"$s $k 0.0" }
      val (a1, a2) = scala.util.Random.shuffle(aLines).splitAt(aLines.size / 2)
      ms.addData(a1: _*)
      q.processAllAvailable()
      ms.addData((a2 ++ scala.util.Random.shuffle(bLines)): _*)
      q.processAllAvailable()
      ms.addData("9999999999 sentinel 0.0")
      q.processAllAvailable()
      ms.addData("9999999999 sentinel 0.0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_rows"), col("n_keys"), col("max_cnt"), col("hot_key"),
        col("skew_ratio"), col("is_skewed"), col("salt_n"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Long, String, Double, Long, Long)].collect().toSet
      val batch = Gateway.skewFeed(lines.toDF("value"), 4L, "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, Long, Long, Long, String, Double, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming skew audit diverges from batch")
      val expected = feed.groupBy { case (s, _) => (s / 86400) * 86400 }
        .map { case (ws, rows) =>
          val cnt = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
          val n = rows.length.toLong; val nk = cnt.size.toLong
          val mx = cnt.values.max
          val hot = cnt.filter(_._2 == mx).keys.min
          val q4 = ((BigInt(mx) * nk * 20000 + n) / (BigInt(n) * 2)).toLong
          val fired = BigInt(mx) * nk > BigInt(n) * 4
          (ws, n, nk, mx, hot, q4 / 10000.0,
            if (fired) 1L else 0L,
            if (fired) ((BigInt(mx) * nk + n - 1) / BigInt(n)).toLong else 1L)
        }.toSet
      assert(batch === expected, "skew audit diverges from the sequential recount")
      // both branches genuinely closed: day A healthy, day B fired with
      // the right hot key and a salt factor that would actually split it
      assert(streamed.exists(r => r._7 == 0L && r._8 == 1L), "healthy window missing")
      val fired = streamed.find(_._7 == 1L)
      assert(fired.exists(r => r._5 == "hot" && r._8 > 1L),
        s"hot-key window missing or mis-audited: $streamed")
    } finally q.stop()
  }

  test("streaming SRM guard: three chained windowed aggs, stream == batch == srmOf == recount, alarm fires live") {
    // Streaming X145: two event-time days — day A a clean 30/30 split
    // (χ² = 0, no alarm), day B a 50/10 corruption (χ² = 26.67 > the
    // 10.828 df=1 cut → alarm) — so BOTH verdict branches close from
    // the same feed. Users emit MULTIPLE events (the distinct-user
    // first aggregate must actually dedup), delivery is scrambled but
    // day-coherent (batch-boundary order-freedom, not late-data
    // drops). The audit must agree under the streaming engine (three
    // chained stateful aggregates), as a batch frame, with the
    // DECLARED srmOf math on the same per-window cells, and in a
    // BigInt recount.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    // (epoch, variant, user): day A 30/30 users x2 events, day B 50/10 x3
    val dayA = (0 until 60).flatMap(u =>
      (0 until 2).map(e => (base + u * 10 + e, u % 2, 1000L + u)))
    val dayB = (0 until 60).flatMap { u =>
      val v = if (u < 50) 0 else 1
      (0 until 3).map(e => (base + 86400 + u * 10 + e, v, 2000L + u))
    }
    val feed = dayA ++ dayB
    def fmt(r: (Long, Int, Long)) = s"${r._1} ${r._2} ${r._3}"
    val ms = MemoryStream[String]
    val sink = s"srm_feed_${System.nanoTime()}"
    val q = Gateway.srmFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val (a1, a2) = scala.util.Random.shuffle(dayA.map(fmt)).splitAt(dayA.size / 2)
      ms.addData(a1: _*)
      q.processAllAvailable()
      ms.addData((a2 ++ scala.util.Random.shuffle(dayB.map(fmt))): _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 0")
      q.processAllAvailable()
      ms.addData("9999999999 0 0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_variants"), col("n_users"), col("chi2"), col("srm_alarm"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Double, Long)].collect().toSet
      val batch = Gateway.srmFeed(feed.map(fmt).toDF("value"), "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Double, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming SRM audit diverges from batch")
      // recount + the DECLARED srmOf math on the same per-window cells
      val expected = feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }
        .map { case (ws, rows) =>
          val cells = rows.map(r => (r._2, r._3)).distinct
            .groupBy(_._1).view.mapValues(_.size.toLong).toMap
          val k = cells.size.toLong
          val n = cells.values.sum
          val so2 = cells.values.map(o => BigInt(o) * o).sum
          val num = BigInt(k) * so2 - BigInt(n) * n
          val chi2 = ((20000 * num + n) / (2 * BigInt(n))).toLong / 10000.0
          val alarm = if (10000 * num > 108280 * BigInt(n)) 1L else 0L
          (ws, k, n, chi2, alarm)
        }.toSet
      assert(batch === expected, "SRM audit diverges from the sequential recount")
      for ((ws, _, _, chi2, alarm) <- expected) {
        val slice = feed.filter { case (s, _, _) => (s / 86400) * 86400 == ws }
        val cells = slice.map(r => (r._2, r._3)).distinct
          .groupBy(_._1).toSeq.map { case (v, us) => (v.toLong, us.size.toLong) }
        val viaSrmOf = graft.operators.Extensions.srmOf(
          cells.toDF("variant", "n_users"))
          .select(col("chi2"), col("srm_alarm"))
          .as[(Double, Long)].collect().toSet
        assert(viaSrmOf === Set((chi2, alarm)),
          s"feed window $ws disagrees with the declared srmOf math")
      }
      assert(streamed.exists(_._5 == 0L) && streamed.exists(_._5 == 1L),
        s"both alarm branches must close live: $streamed")
    } finally q.stop()
  }

  test("streaming A/B readout: stream == batch == abTestOf == recount, significance flips live") {
    // Streaming X141: day A has identical 1/3 conversion in both arms
    // (χ² = 0, not significant); day B converts 36/40 vs 4/40
    // (χ² ≈ 51.3 ≫ 3.8415 → significant) — both verdict branches
    // close from one feed. Users emit multiple events and converters
    // also emit y=0 events (the max(y) collapse must be order-free).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    // (epoch, variant, user, y)
    val dayA = (0 until 60).flatMap { u =>
      val conv = if (u % 3 == 0) 1 else 0
      Seq((base + u * 10, u % 2, 1000L + u, 0),
        (base + u * 10 + 5, u % 2, 1000L + u, conv))
    }
    val dayB = (0 until 80).flatMap { u =>
      val v = u % 2
      val conv = if (v == 0) (if (u < 72) 1 else 0) else (if (u < 8) 1 else 0)
      Seq((base + 86400 + u * 10, v, 2000L + u, conv),
        (base + 86400 + u * 10 + 5, v, 2000L + u, 0))
    }
    val feed = dayA ++ dayB
    def fmt(r: (Long, Int, Long, Int)) = s"${r._1} ${r._2} ${r._3} ${r._4}"
    val ms = MemoryStream[String]
    val sink = s"ab_feed_${System.nanoTime()}"
    val q = Gateway.abFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val (a1, a2) = scala.util.Random.shuffle(dayA.map(fmt)).splitAt(dayA.size / 2)
      ms.addData(a1: _*)
      q.processAllAvailable()
      ms.addData((a2 ++ scala.util.Random.shuffle(dayB.map(fmt))): _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0")
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("users_0"), col("conv_0"), col("users_1"), col("conv_1"),
        col("rate_0"), col("rate_1"), col("rate_diff"), col("chi2"), col("significant"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double, Long)]
        .collect().toSet
      val batch = Gateway.abFeed(feed.map(fmt).toDF("value"), "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double, Long)]
        .collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming A/B readout diverges from batch")
      // recount + the DECLARED abTestOf math per window
      val expected = feed.groupBy { case (s, _, _, _) => (s / 86400) * 86400 }
        .map { case (ws, rows) =>
          val perUser = rows.groupBy(r => (r._2, r._3)).toSeq.map { case ((v, _), es) =>
            (v, es.map(_._4).max)
          }
          val byV = perUser.groupBy(_._1)
          def users(v: Int) = byV.getOrElse(v, Nil).size.toLong
          def conv(v: Int) = byV.getOrElse(v, Nil).map(_._2.toLong).sum
          val (a, b, c, d) =
            (conv(0), users(0) - conv(0), conv(1), users(1) - conv(1))
          val n = a + b + c + d
          val num = BigInt(n) * (BigInt(a) * d - BigInt(b) * c) * (BigInt(a) * d - BigInt(b) * c)
          val den = BigInt(a + b) * (c + d) * (a + c) * (b + d)
          def r4(cv: Long, us: Long) = if (us == 0) 0L else (20000 * cv + us) / (2 * us)
          val chi2 = if (den == 0) 0.0 else ((20000 * num + den) / (2 * den)).toLong / 10000.0
          val sig = if (den != 0 && 10000 * num > 38415 * den) 1L else 0L
          (ws, users(0), a, users(1), c,
            r4(a, users(0)) / 10000.0, r4(c, users(1)) / 10000.0,
            math.abs(r4(a, users(0)) - r4(c, users(1))) / 10000.0, chi2, sig)
        }.toSet
      assert(batch === expected, "A/B readout diverges from the sequential recount")
      for ((ws, u0, c0, u1, c1, _, _, rd, chi2, sig) <- expected) {
        val perUser =
          (0 until u0.toInt).map(i => (0L, if (i < c0) 1L else 0L)) ++
            (0 until u1.toInt).map(i => (1L, if (i < c1) 1L else 0L))
        val viaAb = graft.operators.Extensions.abTestOf(
          perUser.toDF("variant", "converted"))
          .select(col("rate_diff"), col("chi2"), col("significant"))
          .as[(Double, Double, Long)].collect().toSet
        assert(viaAb === Set((rd, chi2, sig)),
          s"feed window $ws disagrees with the declared abTestOf math")
      }
      assert(streamed.exists(_._10 == 0L) && streamed.exists(_._10 == 1L),
        s"both significance branches must close live: $streamed")
    } finally q.stop()
  }

  test("streaming CUPED readout: stream == batch == cupedOf, theta-active and degenerate branches live") {
    // Streaming X142: day A has a real covariate spread (x varies,
    // y = x + arm effect + noise → θ near 1, adjustment active);
    // day B ships a CONSTANT covariate (var_n = 0 → θ = 0 and the
    // adjusted means must degenerate to the raw means in the same
    // CASE the batch states). Users emit two events each: x rides
    // both (max is order-free on a static value), y is split across
    // them (sum must reassemble it).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    // (epoch, variant, user, x, yIncrement)
    val dayA = (0 until 40).flatMap { u =>
      val v = u % 2
      val x = (u / 2) % 7
      val y = x + 2 * v + (u % 3)
      Seq((base + u * 10, v, 1000L + u, x, y / 2),
        (base + u * 10 + 5, v, 1000L + u, x, y - y / 2))
    }
    val dayB = (0 until 30).flatMap { u =>
      val v = u % 2
      val y = 3 + v + (u % 4)
      Seq((base + 86400 + u * 10, v, 2000L + u, 5, y / 2),
        (base + 86400 + u * 10 + 5, v, 2000L + u, 5, y - y / 2))
    }
    val feed = dayA ++ dayB
    def fmt(r: (Long, Int, Long, Int, Int)) = s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}"
    val ms = MemoryStream[String]
    val sink = s"cuped_feed_${System.nanoTime()}"
    val q = Gateway.cupedFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val (a1, a2) = scala.util.Random.shuffle(dayA.map(fmt)).splitAt(dayA.size / 2)
      ms.addData(a1: _*)
      q.processAllAvailable()
      ms.addData((a2 ++ scala.util.Random.shuffle(dayB.map(fmt))): _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0 0")
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0 0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("users_0"), col("users_1"), col("mean_0"), col("mean_1"),
        col("mean_adj_0"), col("mean_adj_1"), col("theta"), col("var_reduction"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Double, Double, Double, Double, Double, Double)]
        .collect().toSet
      val batch = Gateway.cupedFeed(feed.map(fmt).toDF("value"), "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, Long, Long, Double, Double, Double, Double, Double, Double)]
        .collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming CUPED readout diverges from batch")
      // per window, the one-row audit must equal the DECLARED cupedOf
      // on the same per-user frame, reshaped
      val byWindow = feed.groupBy { case (s, _, _, _, _) => (s / 86400) * 86400 }
      for ((ws, rows) <- byWindow) {
        val perUser = rows.groupBy(r => (r._2, r._3)).toSeq.map { case ((v, _), es) =>
          (v.toLong, es.map(_._4).max.toLong, es.map(_._5).sum.toLong)
        }
        val viaCuped = graft.operators.Extensions.cupedOf(
          perUser.toDF("variant", "x", "y"))
          .select(col("variant"), col("n_users"), col("mean_y"),
            col("mean_y_adj"), col("theta"), col("var_reduction"))
          .as[(Long, Long, Double, Double, Double, Double)].collect()
        val m = viaCuped.map(r => r._1 -> r).toMap
        val expected = (ws,
          m(0L)._2, m(1L)._2, m(0L)._3, m(1L)._3, m(0L)._4, m(1L)._4,
          m(0L)._5, m(0L)._6)
        val got = batch.find(_._1 == ws).get
        assert(got === expected,
          s"feed window $ws disagrees with the declared cupedOf math")
      }
      // both branches genuinely closed: day A's θ is active, day B's
      // constant covariate degenerates (θ = 0, adjusted == raw)
      val (wA, wB) = (base / 86400 * 86400, (base + 86400) / 86400 * 86400)
      val rA = streamed.find(_._1 == wA).get
      val rB = streamed.find(_._1 == wB).get
      assert(rA._8 != 0.0 && rA._9 > 0.0, s"day A theta/reduction inactive: $rA")
      assert(rB._8 == 0.0 && rB._6 == rB._4 && rB._7 == rB._5,
        s"day B must degenerate to raw means: $rB")
    } finally q.stop()
  }

  test("streaming QTE readout: histogram quantiles, stream == batch == qteOf == recount") {
    // Streaming X144: day A's arms share a distribution (gap 0); day
    // B's treatment shifts the whole distribution by +5 (every
    // quantile moves — the distributional signal X141's means-only
    // readout can't localize). Users emit two events each (the
    // outcome sum must reassemble across micro-batches), heavy-tail
    // duplicates make the histogram's cum-count scan do real work.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    val dayA = (0 until 40).flatMap { u =>
      val y = u % 5 // same support both arms
      Seq((base + u * 10, u % 2, 1000L + u, y / 2),
        (base + u * 10 + 5, u % 2, 1000L + u, y - y / 2))
    }
    val dayB = (0 until 40).flatMap { u =>
      val v = u % 2
      val y = (u % 7) + 5 * v
      Seq((base + 86400 + u * 10, v, 2000L + u, y / 2),
        (base + 86400 + u * 10 + 5, v, 2000L + u, y - y / 2))
    }
    val feed = dayA ++ dayB
    def fmt(r: (Long, Int, Long, Int)) = s"${r._1} ${r._2} ${r._3} ${r._4}"
    val ms = MemoryStream[String]
    val sink = s"qte_feed_${System.nanoTime()}"
    val q = Gateway.qteFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val (a1, a2) = scala.util.Random.shuffle(dayA.map(fmt)).splitAt(dayA.size / 2)
      ms.addData(a1: _*)
      q.processAllAvailable()
      ms.addData((a2 ++ scala.util.Random.shuffle(dayB.map(fmt))): _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0")
      q.processAllAvailable()
      ms.addData("9999999999 0 0 0")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("users_0"), col("users_1"),
        col("p25_0"), col("p50_0"), col("p75_0"),
        col("p25_1"), col("p50_1"), col("p75_1"), col("median_gap"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      val batch = Gateway.qteFeed(feed.map(fmt).toDF("value"), "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming QTE readout diverges from batch")
      // per window: the DECLARED qteOf on the same per-user frame,
      // plus an independent sorted-order-statistic recount
      for ((ws, rows) <- feed.groupBy { case (s, _, _, _) => (s / 86400) * 86400 }) {
        val perUser = rows.groupBy(r => (r._2, r._3)).toSeq.map { case ((v, u), es) =>
          (v.toLong, es.map(_._4).sum.toLong, u)
        }
        val viaQte = graft.operators.Extensions.qteOf(
          perUser.toDF("variant", "y", "uid"))
          .select(col("variant"), col("n_users"), col("p25"), col("p50"),
            col("p75"), col("median_gap"))
          .as[(Long, Long, Long, Long, Long, Long)].collect()
        val m = viaQte.map(r => r._1 -> r).toMap
        val expected = (ws, m(0L)._2, m(1L)._2,
          m(0L)._3, m(0L)._4, m(0L)._5, m(1L)._3, m(1L)._4, m(1L)._5,
          m(0L)._6)
        val got = batch.find(_._1 == ws).get
        assert(got === expected, s"feed window $ws disagrees with the declared qteOf math")
        // independent recount: sorted per-arm outcomes, type-1 positions
        for (v <- Seq(0L, 1L)) {
          val ys = perUser.filter(_._1 == v).map(_._2).sorted
          val n = ys.size
          def t1(pos: Int) = ys(pos - 1)
          val rec = (t1((n + 3) / 4), t1((n + 1) / 2), t1((3 * n + 3) / 4))
          val dec = if (v == 0L) (got._4, got._5, got._6) else (got._7, got._8, got._9)
          assert(dec === rec, s"window $ws arm $v order-statistic recount diverges")
        }
      }
      // the distributional signal closed live: day B's gap is the
      // planted +5 shift, day A's is 0
      val (wA, wB) = (base / 86400 * 86400, (base + 86400) / 86400 * 86400)
      assert(streamed.find(_._1 == wA).get._10 === 0L, "day A gap must be 0")
      assert(streamed.find(_._1 == wB).get._10 === 5L, "day B gap must be the planted +5")
    } finally q.stop()
  }

  test("streaming calibration monitor: per-window ECE/MCE, stream == batch == X149 recount") {
    // Streaming X149: real docs over three event-time days; each
    // window's ECE/MCE must equal the offline calibration math on
    // that window's slice — recounted in BigInt off the two declared
    // gate queries (the X149 spec's own convention), so the live
    // dial is pinned to the audited number, not to itself.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000L
    val feed = docs.map { case (id, t) => (base + (id % 3) * 86400, id, t) }
    val lines = feed.map { case (s, id, t) => s"$s $id $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"calib_feed_${System.nanoTime()}"
    val q = Gateway.calibrationFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      // day-coherent scrambled delivery (the skewFeed discipline):
      // mixing day-2 timestamps into the first batch advances the
      // watermark past days 0/1 and their batch-2 stragglers would be
      // legitimately late — the test exercises batch-boundary
      // order-freedom, not late-data drops
      val byDay = feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }.toSeq.sortBy(_._1)
      for ((_, rows) <- byDay) {
        val ls = scala.util.Random.shuffle(rows.map { case (s, id, t) => s"$s $id $t" }.toSeq)
        val (h1, h2) = ls.splitAt(ls.size / 2)
        ms.addData(h1: _*)
        q.processAllAvailable()
        ms.addData(h2: _*)
        q.processAllAvailable()
      }
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_docs"), col("n_bins"), col("ece"), col("mce"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      val batch = Gateway.calibrationFeed(lines.toDF("value"), "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Double, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming calibration audit diverges from batch")
      // recount: the X149 integer forms per window off the declared gates
      val logit = SparkEntry.queries("q_quality_clf")(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val keep = SparkEntry.queries("q_rule_filter")(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
      val expected = feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }
        .map { case (ws, rows) =>
          val cells = rows.map { case (_, id, _) =>
            val p6 = 5L * (logit(id) + 100000L)
            (math.min(p6 / 100000L, 9L), p6, if (keep(id)) 1L else 0L)
          }.groupBy(_._1).toSeq.map { case (_, rs) =>
            val n = BigInt(rs.size); val sp6 = rs.map(r => BigInt(r._2)).sum
            val sy = BigInt(rs.map(_._3).sum)
            val mp4 = ((2 * sp6 + 100 * n) / (200 * n)).toLong
            val ob4 = ((20000 * sy + n) / (2 * n)).toLong
            (n, (mp4 - ob4).abs)
          }
          val nd = cells.map(_._1).sum
          val ece = ((2 * cells.map(c => c._1 * c._2).sum + nd) / (2 * nd)).toLong / 10000.0
          (ws, nd.toLong, cells.size.toLong, ece, cells.map(_._2).max / 10000.0)
        }.toSet
      assert(batch === expected, "calibration feed diverges from the X149 recount")
      assert(streamed.size >= 3, s"expected >= 3 closed daily windows, got ${streamed.size}")
      assert(streamed.forall(_._4 > 0), "vacuous: zero ECE everywhere")
    } finally q.stop()
  }

  test("streaming topic monitor: windowed lexicon composition, stream == batch == recount") {
    // Streaming X131: real docs over three event-time days; the
    // per-(window, topic) membership counts and 4dp shares must agree
    // under the streaming engine, as a batch frame, and in a
    // sequential recount with the same lexicons.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000L
    val feed = docs.map { case (id, t) => (base + (id % 3) * 86400, id, t) }
    val lines = feed.map { case (s, id, t) => s"$s $id $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"topic_feed_${System.nanoTime()}"
    val q = Gateway.topicFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      ms.addData("9999999999 0 sentinel")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("topic"), col("n_docs"), col("hits"), col("share"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, String, Long, Long, Double)].collect().toSet
      val batch = Gateway.topicFeed(lines.toDF("value"), "1 day", "1 hour")
        .select(cols: _*).as[(Long, String, Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming topic mix diverges from batch")
      val lex = graft.operators.TextAnalysis.topicLexicons
      val minHits = graft.operators.TextAnalysis.topicMinHits
      val expected = (for {
        (ws, rows) <- feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }.toSeq
        (t, words) <- lex.toSeq
      } yield {
        val n = rows.length.toLong
        val hits = rows.count { case (_, _, txt) =>
          words.count(txt.split(" ").distinct.toSet.contains) >= minHits
        }.toLong
        (ws, t, n, hits, ((20000L * hits + n) / (2L * n)) / 10000.0)
      }).toSet
      assert(batch === expected, "topic mix diverges from the sequential recount")
      assert(streamed.size >= 3 * lex.size, "expected every (day, topic) cell")
    } finally q.stop()
  }

  test("streaming entity audit: windowed mention counters, stream == batch == recount == declared query") {
    // Streaming X162: the planted entity corpus (the declared query's
    // own input) over three event-time days; per-(window, source)
    // counters must agree under the streaming engine, as a batch
    // frame, and in a java.util.regex sequential recount — and since
    // each doc lands in exactly one window, the window-summed counters
    // must equal the declared q_entity_stats rows exactly.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.operators.TextAnalysis.entityDocs(spark, dir)
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val base = 1700000000L
    val feed = docs.zipWithIndex.map { case ((src, t), i) =>
      (base + (i % 3) * 86400L, src, t)
    }
    val lines = feed.map { case (s, src, t) => s"$s $src $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"entity_feed_${System.nanoTime()}"
    val q = Gateway.entityFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      ms.addData("9999999999 zzz sentinel")
      q.processAllAvailable()
      ms.addData("9999999999 zzz sentinel")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"), col("source"),
        col("n_docs"), col("emails"), col("urls"), col("ipv4s"), col("years"),
        col("docs_with_entities"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().toSet
      val batch = Gateway.entityFeed(lines.toDF("value"), "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming entity audit diverges from batch")
      // sequential recount with java.util.regex (the engine-agnostic
      // half of the X162 grammar-subset certificate)
      val pats = graft.operators.TextAnalysis.entityPatterns
        .map { case (n, p) => (n, java.util.regex.Pattern.compile(p)) }
      def countAll(p: java.util.regex.Pattern, t: String): Long = {
        val m = p.matcher(t); var c = 0L; while (m.find()) c += 1; c
      }
      val expected = feed.groupBy { case (s, src, _) => ((s / 86400) * 86400, src) }
        .map { case ((ws, src), rows) =>
          val per = rows.toSeq.map { case (_, _, t) =>
            pats.toSeq.map { case (_, p) => countAll(p, t) }
          }
          val sums = per.transpose.map(_.sum)
          (ws, src, rows.length.toLong, sums(0), sums(1), sums(2), sums(3),
            per.count(_.sum > 0).toLong)
        }.toSet
      assert(batch === expected, "entity audit diverges from the regex recount")
      // window-summed counters == the declared batch query, row for row
      val declared = SparkEntry.queries("q_entity_stats")(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      // toSeq before summing: `rows` is a Set and equal per-window
      // counter values would collapse before the sum
      val summed = batch.groupBy(_._2).map { case (src, cells) =>
        val rows = cells.toSeq
        src -> ((rows.map(_._3).sum, rows.map(_._4).sum, rows.map(_._5).sum,
          rows.map(_._6).sum, rows.map(_._7).sum, rows.map(_._8).sum))
      }
      assert(summed === declared, "window-summed entity counters diverge from q_entity_stats")
      assert(declared.values.exists(v => v._2 > 0 && v._3 > 0 && v._4 > 0 && v._5 > 0),
        "vacuous: some entity kind never fires")
    } finally q.stop()
  }

  test("streaming winsorize dial: static cuts, windowed clip stats, stream == batch == recount == declared totals") {
    // Streaming X163: real events streamed at their own timestamps
    // against the batch query's OWN p05/p95 cut artifact (plan
    // literals — a live quantile would make the clamp depend on
    // micro-batch boundaries). Stream ≡ batch frame ≡ BigInt recount
    // per (window, type); n/clipped counts are additive over windows,
    // so their sums must equal the declared q_winsorize columns.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val cuts = graft.operators.Extensions.winsorizeCuts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cuts.nonEmpty)
    val evs = Tables(spark, dir, "events")
      .select(unix_seconds(col("ts")).as("s"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val lines = evs.map { case (s, t, v) => s"$s $t $v" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"winsorize_feed_${System.nanoTime()}"
    val q = Gateway.winsorizeFeed(ms.toDF(), cuts, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      // the watermark-advancing sentinel must carry an AUDITED type:
      // Catalyst pushes the cut-artifact membership filter below the
      // watermark node, so an unknown type would never advance it
      val sentinel = s"9999999999 ${cuts.head._1} 0.0"
      ms.addData(sentinel)
      q.processAllAvailable()
      ms.addData(sentinel)
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"), col("event_type"),
        col("n"), col("lo_cut"), col("hi_cut"), col("clipped_lo"), col("clipped_hi"),
        col("mean_raw"), col("mean_wins"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Double, Double)].collect().toSet
      val batch = Gateway.winsorizeFeed(lines.toDF("value"), cuts, "1 day", "1 hour")
        .select(cols: _*)
        .as[(Long, String, Long, Long, Long, Long, Long, Double, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming winsorize dial diverges from batch")
      // per-(window, type) BigInt recount with the same static cuts
      val cutMap = cuts.map(c => c._1 -> ((c._2, c._3))).toMap
      val expected = evs.groupBy { case (s, t, _) => ((s / 86400) * 86400, t) }
        .map { case ((ws, t), rows) =>
          val (lo, hi) = cutMap(t)
          // Spark's round() goes through BigDecimal HALF_UP (away from
          // zero on negatives) — math.round is HALF_UP toward +inf
          val cents = rows.map { case (_, _, v) =>
            java.math.BigDecimal.valueOf(v * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          }
          val w = cents.map(c => math.max(lo, math.min(hi, c)))
          val n = BigInt(cents.length)
          def mean4(xs: Seq[Long]): Double =
            ((BigInt(200) * xs.map(BigInt(_)).sum + n) / (2 * n)).toLong / 10000.0
          (ws, t, cents.length.toLong, lo, hi,
            cents.count(_ < lo).toLong, cents.count(_ > hi).toLong,
            mean4(cents.toSeq), mean4(w.toSeq))
        }.toSet
      assert(batch === expected, "winsorize dial diverges from the BigInt recount")
      // additive columns sum to the declared batch query
      val declared = SparkEntry.queries("q_winsorize")(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
      val summed = batch.groupBy(_._2).map { case (t, cells) =>
        val rows = cells.toSeq // Set.map would collapse equal values
        t -> ((rows.map(_._3).sum, rows.head._4, rows.head._5,
          rows.map(_._6).sum, rows.map(_._7).sum))
      }
      assert(summed === declared, "window-summed clip stats diverge from q_winsorize")
      assert(declared.values.exists(v => v._4 > 0 && v._5 > 0),
        "vacuous: nothing ever clipped")
    } finally q.stop()
  }

  test("streaming schema drift: windowed key inventory vs static artifact, stream == batch == recount == declared rows") {
    // Streaming X171: deploy-shaped — the known-key artifact is the
    // batch corpus's key set up to a cut day D; the stream carries the
    // suffix (day >= D) with the SAME planted day-named keys the
    // declared query derives. Pins: stream == batch frame == a
    // sequential recount, and — because a planted key's first window
    // is its only window — the per-window rows equal the declared
    // q_schema_drift columns for the suffix days exactly.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = Tables(spark, dir, "events")
      .select(unix_seconds(col("ts")).as("s"), col("event_id"), col("props"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def dayOf(s: Long) = s / 86400
    val cut = evs.map(e => dayOf(e._1)).min + 10
    def plantedProps(s: Long, id: Long, p: String): String =
      if (id % 97 == 0) p.dropRight(1) + s""", "exp_d${dayOf(s)}": 1}""" else p
    // artifact: every key the prefix corpus ever emitted
    val known = evs.filter(e => dayOf(e._1) < cut).flatMap { case (s, id, p) =>
      if (id % 97 == 0) Seq("k", s"exp_d${dayOf(s)}") else Seq("k")
    }.distinct.toSeq
    val suffix = evs.filter(e => dayOf(e._1) >= cut)
    val lines = suffix.map { case (s, id, p) => s"$s $id ${plantedProps(s, id, p)}" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"schema_drift_${System.nanoTime()}"
    val q = Gateway.schemaDriftFeed(ms.toDF(), known, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      ms.addData("9999999999 0 {}")
      q.processAllAvailable()
      ms.addData("9999999999 0 {}")
      q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("key_mentions"), col("n_keys"), col("n_new_keys"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = Gateway.schemaDriftFeed(lines.toDF("value"), known, "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "vacuous pin: no window closed")
      assert(streamed === batch, "streaming schema drift diverges from batch")
      // sequential recount with JVM string/set algebra
      val expected = suffix.groupBy(e => dayOf(e._1)).map { case (d, es) =>
        val keys = es.flatMap { case (s, id, _) =>
          if (id % 97 == 0) Seq("k", s"exp_d${dayOf(s)}") else Seq("k")
        }
        (d * 86400, keys.length.toLong, keys.distinct.length.toLong,
          keys.distinct.count(k => !known.contains(k)).toLong)
      }.toSet
      assert(batch === expected, "schema drift dial diverges from the recount")
      // tie to the DECLARED query: suffix-day rows equal digit-for-digit
      val declared = SparkEntry.queries("q_schema_drift")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .filter(_._1 >= cut)
        .map { case (d, km, nk, nn) => (d * 86400, km, nk, nn) }.toSet
      assert(batch === declared,
        "dial rows diverge from the declared q_schema_drift suffix days")
      assert(batch.exists(_._4 > 0), "vacuous: no suffix day drifts")
      assert(batch.exists(_._4 == 0), "vacuous: every suffix day drifts (no negative control)")
    } finally q.stop()
  }

  test("streaming exact dedup: within-watermark duplicates dropped, expired keys re-admitted") {
    // The two halves of dropDuplicatesWithinWatermark's contract:
    // (1) a frame re-sent while its key state lives is suppressed —
    //     the batch distinct of the same rows, row-for-row;
    // (2) the SAME frame re-sent after the watermark passed its
    //     state's horizon is admitted again — the bounded-state
    //     behavior that separates this from a forever-state global
    //     dropDuplicates (and the reason it survives unbounded key
    //     churn at 100 TB).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    // phase 1: three readings, each sent twice (plus one triple)
    val p1 = Seq(
      s"$base power 100.0", s"$base power 100.0",
      s"${base + 5} power 101.0",
      s"${base + 9} temp 21.5", s"${base + 9} temp 21.5", s"${base + 9} temp 21.5")
    // phase 2: far-future rows advance the watermark (10s delay) well
    // past phase 1's state, then phase 3 re-sends an identical frame
    val p2 = Seq(s"${base + 1000} power 102.0")
    val p3 = Seq(s"${base + 1001} power 100.0") // same key as the first frame
    val ms = MemoryStream[String]
    val sink = s"dedup_exact_${System.nanoTime()}"
    val q = Gateway.dedupExactFeed(ms.toDF(), "10 seconds")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(p1: _*); q.processAllAvailable()
      ms.addData(p2: _*); q.processAllAvailable()
      ms.addData(p3: _*); q.processAllAvailable()
      val got = spark.table(sink)
        .select(unix_seconds(col("ts")), col("event_type"), col("reading"))
        .as[(Long, String, Double)].collect().toSeq.sorted
      val expected = Seq(
        (base, "power", 100.0), (base + 5, "power", 101.0), (base + 9, "temp", 21.5),
        (base + 1000, "power", 102.0),
        (base + 1001, "power", 100.0)). sorted
      assert(got === expected,
        s"dedup feed emitted $got — duplicates survived or the expired key was not re-admitted")
    } finally q.stop()
  }

  test("streaming heavy hitters: MG laws hold across micro-batch state merges") {
    // Streaming X22: the TypedImperativeAggregate's serialized buffer
    // lives in the state store between micro-batches, so feeding the
    // same windows' documents across THREE separate addData calls
    // (watermark delay > the whole span, so no window closes early)
    // exercises serialize → merge → serialize. The exact candidate
    // set is fold-order-dependent — so the pins are the sketch's
    // order-INDEPENDENT laws, checked per window against exact driver
    // counts, on both the streamed and the one-pass batch output:
    // token totals exact, superset (count > spill ⟹ candidate),
    // spill ≤ n/(capacity+1), ≤ capacity candidates.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000L
    val feed = docs.map { case (id, t) => (base + (id % 2) * 86400, id, t) }
    val lines = feed.map { case (s, id, t) => s"$s $id $t" }
    val parts = lines.grouped(math.max(1, lines.length / 3)).toSeq
    assert(parts.size >= 3, "need >= 3 micro-batches to exercise state merge")
    val cap = 16
    val exact = feed.groupBy { case (s, _, _) => (s / 86400) * 86400 }
      .map { case (ws, rows) =>
        ws -> rows.flatMap(_._3.split(" ", -1))
          .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      }
    def checkLaws(tag: String, out: Map[Long, (Long, Long, Set[String])]): Unit = {
      assert(out.keySet === exact.keySet, s"$tag: missing or extra windows")
      exact.foreach { case (ws, counts) =>
        val (n, spill, cands) = out(ws)
        assert(n === counts.values.sum, s"$tag window $ws token count off")
        assert(spill <= n / (cap + 1), s"$tag window $ws spill $spill above the MG bound")
        val missed = counts.filter { case (t, c) => c > spill && !cands(t) }
        assert(missed.isEmpty,
          s"$tag window $ws: tokens with count > spill=$spill missing from candidates: $missed")
        assert(cands.nonEmpty && cands.size <= cap, s"$tag window $ws candidates out of bounds")
      }
    }
    val ms = MemoryStream[String]
    val sink = s"hitter_feed_${System.nanoTime()}"
    val q = Gateway.hitterFeed(ms.toDF(), cap, "1 day", "3 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      ms.addData("9999999999 0 sentinel"); q.processAllAvailable()
      ms.addData("9999999999 0 sentinel"); q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_tokens"), col("spill"), col("candidates"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Seq[String])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4.toSet)).toMap
      val batch = Gateway.hitterFeed(lines.toSeq.toDF("value"), cap, "1 day", "3 days")
        .select(cols: _*).as[(Long, Long, Long, Seq[String])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4.toSet)).toMap
      assert(streamed.size >= 2, "vacuous pin: fewer than 2 windows closed")
      checkLaws("stream", streamed)
      checkLaws("batch", batch)
      // non-vacuity of the merge path: the sketch actually spilled
      // somewhere (capacity bound bit), else the laws are trivial
      assert(streamed.values.exists(_._2 > 0), "no window spilled — capacity never bound")
    } finally q.stop()
  }

  test("streaming gap debounce == batch q_debounce row-for-row across micro-batch cuts") {
    // The R27 gap twin: the real events table fed in event-time order
    // but split across three micro-batches at arbitrary points, so
    // per-type anchors MUST survive the state store for parity to
    // hold. The expected set is the declared (oracle-green) batch
    // q_debounce itself.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => TypedEvent(r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(e => (e.us, e.eventId)) // the gateway's in-order arrival contract
    val parts = evs.grouped(math.max(1, evs.length / 3)).toSeq
    assert(parts.size >= 3, "need >= 3 micro-batches to exercise the anchor state")
    val ms = MemoryStream[TypedEvent]
    val sink = s"debounce_feed_${System.nanoTime()}"
    val q = Gateway.debounceFeed(ms.toDS(), graft.operators.Relational.debounceUs)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      val streamed = spark.table(sink)
        .select(col("eventId"), col("eventType"), col("us"), col("prevGapUs"))
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q_debounce")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty && batch.size < evs.length,
        "vacuous: batch debounce kept everything or nothing")
      assert(streamed === batch,
        s"streamed debounce diverges from batch q_debounce " +
          s"(stream ${streamed.size} rows, batch ${batch.size})")
    } finally q.stop()
  }

  test("manifestFeed: the running checksum converges to the batch q_manifest documents row") {
    // the X125 twin: every document's canonical string fed across
    // three micro-batches; the Complete-mode aggregate's final row
    // must equal the batch manifest's documents row bit-for-bit, and
    // a deliberately duplicated row must flip the checksum OFF it
    // (XOR as the at-least-once detector)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val canon = Tables(spark, dir, "documents")
      .select(concat_ws("|", col("doc_id"), col("lang"), col("source"), col("text")))
      .as[String].collect()
    val parts = canon.grouped(math.max(1, canon.length / 3)).toSeq
    val ms = MemoryStream[String]
    val sink = s"manifest_feed_${System.nanoTime()}"
    val q = Gateway.manifestFeed(ms.toDF())
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      val streamed = spark.table(sink)
        .as[(Long, Long)].collect().head
      val batch = SparkEntry.queries("q_manifest")(spark, dir)
        .filter(col("table_name") === "documents")
        .select(col("n_rows"), col("checksum"))
        .as[(Long, Long)].collect().head
      assert(streamed === batch,
        s"running manifest $streamed != batch documents row $batch")
      // a duplicated row is DETECTED: the checksum leaves the batch value
      ms.addData(canon.head)
      q.processAllAvailable()
      val dup = spark.table(sink).as[(Long, Long)].collect().head
      assert(dup._1 === batch._1 + 1 && dup._2 != batch._2,
        s"duplicate delivery not detected: $dup vs $batch")
    } finally q.stop()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("streaming watermark monitor: flag rate + mean z per window, stream == batch == recount; plant fires") {
    // Streaming X154: real docs over three event-time days plus ONE
    // planted all-green-token document — natural windows must read
    // ZERO flags (this corpus's vocabulary skews red; the screen's
    // pass state), the planted window exactly one, and every number
    // must agree across the streaming engine, the same feed as a
    // batch frame, and a MessageDigest recount from the raw lines.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def isGreen(t: String): Boolean =
      java.lang.Long.parseLong(md5hex("wm " + t).take(8), 16) % 2 == 0
    val greens = docs.flatMap(_._2.split(" ")).distinct.filter(isGreen).take(30)
    assert(greens.length >= 5, "corpus vocabulary has too few green tokens to plant")
    // all-green plant, repeated to n >= 15 so z = sqrt(n) clears 2 with margin
    val plant = Seq.fill((15 + greens.length - 1) / greens.length)(greens).flatten
    val base = 1700000000L
    val feed = docs.map { case (id, t) => (base + (id % 3) * 86400, t) } :+
      ((base, plant.mkString(" "))) // the planted synthetic doc, day 0
    val lines = feed.zipWithIndex.map { case ((s, t), i) => s"$s $i $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"wm_feed_${System.nanoTime()}"
    val q = Gateway.watermarkFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val byDay = lines.groupBy(_.split(" ", 2).head.toLong / 86400 * 86400).toSeq.sortBy(_._1)
      for ((_, rows) <- byDay) {
        val (h1, h2) = rows.splitAt(rows.size / 2)
        ms.addData(h1: _*); q.processAllAvailable()
        ms.addData(h2: _*); q.processAllAvailable()
      }
      ms.addData("9999999999 0 sentinel"); q.processAllAvailable()
      ms.addData("9999999999 0 sentinel"); q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"),
        col("n_docs"), col("n_flagged"), col("flag_share"), col("mean_z"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      val batch = Gateway.watermarkFeed(lines.toDF("value"), "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Double, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous: no window closed")
      assert(streamed === batch, "streaming watermark audit diverges from batch")
      // recount from the raw lines (MessageDigest md5, the operator's hash)
      val expected = feed.groupBy(_._1 / 86400 * 86400).map { case (ws, rows) =>
        val per = rows.map { case (_, t) =>
          val w = t.split(" ", -1)
          val g = w.count(isGreen)
          val d = 2L * g - w.length
          val flag = if (d >= 0 && d * d >= 4L * w.length) 1L else 0L
          val z6 = new java.math.BigDecimal(
            1000000.0 * (2.0 * g - w.length) / math.sqrt(w.length.toDouble))
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          (flag, z6)
        }
        val nd = per.size.toLong
        val nf = per.map(_._1).sum
        val sz = per.map(_._2).sum
        val mz = if (sz >= 0) (2 * sz + 100 * nd) / (200 * nd)
          else -((2 * -sz + 100 * nd) / (200 * nd))
        (ws, nd, nf, ((20000L * nf + nd) / (2 * nd)) / 10000.0, mz / 10000.0)
      }.toSet
      assert(batch === expected, "watermark feed diverges from the MessageDigest recount")
      // the screen discriminates LIVE: exactly the planted window fires
      val flagged = streamed.filter(_._3 > 0)
      assert(flagged.map(_._1) === Set(base / 86400 * 86400),
        s"expected only the planted window to flag, got $flagged")
      assert(streamed.count(_._3 == 0) >= 2, "natural windows must read zero flags")
    } finally q.stop()
  }

  test("streaming label-noise monitor: per-window CL grid vs offline thresholds == batch q_label_noise") {
    // Streaming X155: the corpus in one event-time window with the
    // corpus's OWN class thresholds shipped as the offline artifact —
    // in that configuration the feed's cell columns must equal the
    // declared batch grid exactly (same p6 squash, same cross-multiply
    // assignment, same exclusion), and the riding noise rate matches.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val logit = SparkEntry.queries("q_quality_clf")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val keep = SparkEntry.queries("q_rule_filter")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    val p6s = logit.map { case (id, l) => id -> (5L * (l + 100000L)) }
    val ones = p6s.filter { case (id, _) => keep(id) }
    val zros = p6s.filter { case (id, _) => !keep(id) }
    val (s1, n1) = (ones.values.sum, ones.size.toLong)
    val (s0, n0) = (zros.values.map(1000000L - _).sum, zros.size.toLong)
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000L
    val lines = docs.map { case (id, t) => s"$base $id $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"ln_feed_${System.nanoTime()}"
    val q = Gateway.labelNoiseFeed(ms.toDF(), s1, n1, s0, n0, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      ms.addData(s"${base + 10 * 86400} 0 sentinel"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 sentinel"); q.processAllAvailable()
      val cols = Seq(unix_seconds(col("window_start")).as("ws"), col("n_docs"),
        col("n_00"), col("n_01"), col("n_0x"), col("n_10"), col("n_11"), col("n_1x"),
        col("noise_rate"))
      val streamed = spark.table(sink).select(cols: _*)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Double)].collect()
        .filter(_._1 == base / 86400 * 86400)
      assert(streamed.length === 1, s"expected one closed corpus window, got $streamed")
      val st = streamed.head
      val batchFrame = Gateway.labelNoiseFeed(lines.toDF("value"), s1, n1, s0, n0, "1 day", "1 hour")
        .select(cols: _*).as[(Long, Long, Long, Long, Long, Long, Long, Long, Double)]
        .collect().find(_._1 == base / 86400 * 86400).get
      assert(st === batchFrame, "streaming label-noise audit diverges from batch frame")
      // the declared batch grid, folded to the feed's columns
      val grid = SparkEntry.queries("q_label_noise")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
      val expectCells = (grid((0L, 0L))._1, grid((0L, 1L))._1, grid((0L, -1L))._1,
        grid((1L, 0L))._1, grid((1L, 1L))._1, grid((1L, -1L))._1)
      assert((st._3, st._4, st._5, st._6, st._7, st._8) === expectCells,
        "feed cells diverge from the declared q_label_noise grid")
      assert(st._9 === grid((0L, 0L))._2, "noise rate diverges from the declared grid")
      assert(st._2 === docs.length.toLong, "window lost documents")
    } finally q.stop()
  }

  test("streaming cluster-size histogram: labels + sentinel singletons == batch q_cluster_sizes") {
    // Streaming X153: the batch CC labels (plus the corpus anti-join
    // singletons the producer ships with sentinel ids) in one
    // event-time window, split across three micro-batches with an
    // at-least-once replay of the first chunk (absorbed by the
    // stage-1 doc collapse) — the feed's per-window histogram must
    // equal the declared batch rows digit-for-digit.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val labels = graft.operators.Clustering.clusterLabels(spark, dir)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labeled = labels.map(_._1).toSet
    val singles = graft.operators.Dedup.corpus(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).filterNot(labeled)
      .map(id => (id, -id)) // sentinel: each singleton is its own cluster
    val base = 1700000000L
    val lines = (labels ++ singles).map { case (id, c) => s"$base $id $c" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"csz_feed_${System.nanoTime()}"
    val q = Gateway.clusterSizesFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
      assert(parts.size >= 3)
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      ms.addData(parts.head: _*) // replay: absorbed by the doc collapse
      q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 1"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 1"); q.processAllAvailable()
      val streamed = spark.table(sink)
        .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
        .select(col("bucket_lo"), col("n_clusters"), col("n_docs"),
          col("doc_share"), col("top_cluster"), col("dup_doc_share"))
        .as[(Long, Long, Long, Double, Long, Double)].collect().toSet
      val batch = SparkEntry.queries("q_cluster_sizes")(spark, dir)
        .as[(Long, Long, Long, Double, Long, Double)].collect().toSet
      assert(batch.nonEmpty && batch.exists(_._1 == 1L),
        "vacuous: batch histogram must include the singleton bucket")
      assert(streamed === batch, "cluster-size histogram stream diverges from batch")
    } finally q.stop()
  }

  test("streaming profile-drift gate: window profile vs the v1 baseline artifact == batch q_profile_drift") {
    // Streaming X140: the batch v2 corpus in one event-time window
    // diffed against the batch v1 baseline (the six-long promoted-
    // snapshot artifact, recounted here with the same synthesis rules
    // the batch query states) — the feed's per-window metric rows
    // must equal the declared batch table digit-for-digit, flags
    // included.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // v1 recount per the X140 synthesis: %13=5 absent, %19=0 lang
    // NULLed, %7=0 n_chars inflated by n DIV 10
    val v1 = docs.filter(_._1 % 13 != 5).map { case (id, t, l, s, n) =>
      (id, t, if (id % 19 == 0) null else l, s, if (id % 7 == 0) n + n / 10 else n)
    }
    val baseline = graft.streaming.ProfileBaseline(
      n = v1.size.toLong,
      langNulls = v1.count(_._3 == null).toLong,
      langDistinct = v1.map(_._3).filter(_ != null).distinct.size.toLong,
      srcDistinct = v1.map(_._4).distinct.size.toLong,
      nCharsSum = v1.map(_._5).sum,
      textLenSum = v1.map(_._2.length.toLong).sum)
    val base = 1700000000L
    val lines = docs.map { case (id, t, l, s, n) => s"$base $id $l $s $n $t" }.toSeq
    val ms = MemoryStream[String]
    val sink = s"pdrift_feed_${System.nanoTime()}"
    val q = Gateway.profileDriftFeed(ms.toDF(), baseline, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
      assert(parts.size >= 3)
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      ms.addData(parts.head: _*) // replay: absorbed by the doc collapse
      q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 xx s 1 t"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 xx s 1 t"); q.processAllAvailable()
      val streamed = spark.table(sink)
        .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
        .select(col("col_name"), col("metric"), col("v1"), col("v2"),
          col("drift"), col("flagged"))
        .as[(String, String, Double, Double, Double, Long)].collect().toSet
      val batch = SparkEntry.queries("q_profile_drift")(spark, dir)
        .as[(String, String, Double, Double, Double, Long)].collect().toSet
      assert(batch.nonEmpty && batch.exists(_._6 == 1L) && batch.exists(_._6 == 0L),
        "vacuous: batch drift table must realize both flag branches")
      assert(streamed === batch, "profile-drift stream diverges from the batch table")
    } finally q.stop()
  }

  test("streaming temperature sweep: per-window alpha grid, stream == batch q_mix_temperature") {
    // Streaming X151: the whole corpus in one event-time window — the
    // feed's per-window grid must equal the declared batch sweep
    // digit-for-digit (same iterated-sqrt chain, same lang-ordered
    // double fold, same 4dp quotients).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents").select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000L
    val lines = docs.map { case (id, l) => s"$base $id $l" }
    val ms = MemoryStream[String]
    val sink = s"temp_feed_${System.nanoTime()}"
    val q = Gateway.temperatureFeed(ms.toDF(), "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val parts = lines.grouped(math.max(1, lines.length / 3)).toSeq
      assert(parts.size >= 3)
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      // close the window (watermark must pass window end + delay)
      ms.addData(s"${base + 10 * 86400} 0 xx"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 0 xx"); q.processAllAvailable()
      val streamed = spark.table(sink)
        .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
        .select(col("t"), col("lang"), col("n_docs"), col("weight"),
          col("epochs"), col("max_epochs"))
        .as[(Long, String, Long, Double, Double, Double)].collect().toSet
      val batch = SparkEntry.queries("q_mix_temperature")(spark, dir)
        .as[(Long, String, Long, Double, Double, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous: empty batch temperature grid")
      assert(streamed === batch, "temperature sweep stream diverges from the batch grid")
    } finally q.stop()
  }

  test("streaming UniMax dial: per-window waterfilling, stream == batch q_unimax at two " +
    "SFs; replay absorbed") {
    // Streaming X156: the whole corpus in one event-time window, split
    // across three micro-batches with an at-least-once replay of the
    // first chunk (absorbed by the per-(window, lang, doc) collapse) —
    // the feed's per-window allocation table must equal the declared
    // batch waterfilling digit-for-digit (the HOF closed form vs the
    // batch analytic-window closed form certify each other). Two SFs
    // like the rest of the dial roster (r17 VERDICT #8): the sf0.01
    // corpus realizes a different cap/uncapped split than sf0.001.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables(spark, dir, "documents").select("doc_id", "lang", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val base = 1700000000L
      val lines = docs.map { case (id, l, t) => s"$base $id $l $t" }.toSeq
      val ms = MemoryStream[String]
      val sink = s"unimax_feed_${System.nanoTime()}"
      val q = Gateway.unimaxFeed(ms.toDF(), windowDuration = "1 day", watermarkDelay = "1 hour")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
        assert(parts.size >= 3)
        parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
        ms.addData(parts.head: _*) // replay: absorbed by the doc collapse
        q.processAllAvailable()
        ms.addData(s"${base + 10 * 86400} 0 xx t"); q.processAllAvailable()
        ms.addData(s"${base + 10 * 86400} 0 xx t"); q.processAllAvailable()
        val streamed = spark.table(sink)
          .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
          .select(col("lang"), col("n_tokens"), col("capacity"), col("allocation"),
            col("epochs"), col("capped"), col("budget"), col("unallocated"))
          .as[(String, Long, Long, Long, Double, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("q_unimax")(spark, dir)
          .as[(String, Long, Long, Long, Double, Long, Long, Long)].collect().toSet
        assert(batch.nonEmpty && batch.exists(_._6 == 1L) && batch.exists(_._6 == 0L),
          s"vacuous at $dir: batch waterfilling must realize both branches")
        assert(streamed === batch,
          s"UniMax dial stream diverges from the batch allocation at $dir")
      } finally q.stop()
    }
  }

  test("streaming HLL cardinality dial: stream == batch q_hll_distinct sketch at two SFs; " +
    "replay absorbed by register max") {
    // Streaming X157: the whole corpus in one event-time window across
    // three micro-batches plus an at-least-once replay of the first
    // chunk — absorbed STRUCTURALLY by the idempotent register max,
    // with no per-doc dedup state. The feed's per-source estimate rows
    // must equal the declared batch query's sketch columns
    // digit-for-digit (same registers -> same s/v -> same hllEstimate
    // algebra on both sides).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables(spark, dir, "documents").select("source", "text")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val base = 1700000000L
      val lines = docs.map { case (src, t) => s"$base $src $t" }.toSeq
      val ms = MemoryStream[String]
      val sink = s"hll_feed_${System.nanoTime()}"
      val q = Gateway.hllFeed(ms.toDF(), windowDuration = "1 day", watermarkDelay = "1 hour")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
        assert(parts.size >= 3)
        parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
        ms.addData(parts.head: _*) // replay: registers already at max
        q.processAllAvailable()
        // ADVICE r18: a single-word (and an empty-text) line made the
        // bigram lambda non-total — sequence(1, 0) is the DESCENDING
        // [1, 0] and element_at(w, 0) threw, killing the whole query.
        // Both must now contribute zero bigrams and change nothing.
        ms.addData(s"$base srcY single", s"$base srcY ")
        q.processAllAvailable()
        ms.addData(s"${base + 10 * 86400} srcX closing words here"); q.processAllAvailable()
        ms.addData(s"${base + 10 * 86400} srcX closing words here"); q.processAllAvailable()
        val streamed = spark.table(sink)
          .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400 &&
            col("source") =!= "srcY")
          .select(col("source"), col("hll_est"), col("v_empty"), col("branch"))
          .as[(String, Long, Long, String)].collect().toSet
        val batch = SparkEntry.queries("q_hll_distinct")(spark, dir)
          .select(col("source"), col("hll_est"), col("v_empty"), col("branch"))
          .as[(String, Long, Long, String)].collect().toSet
        assert(batch.nonEmpty, s"vacuous at $dir: empty batch sketch table")
        assert(streamed === batch,
          s"HLL dial stream diverges from the batch sketch at $dir")
      } finally q.stop()
    }
  }

  test("streaming rolling-HLL dial: stream == batch q_hll_rolling sketch cube at two SFs; " +
    "replay absorbed") {
    // Streaming X160: real multi-day event timestamps, split across
    // three micro-batches plus an at-least-once replay of the first
    // chunk (absorbed by the idempotent register max — and, for
    // already-closed days, by the emission-horizon fold guard). A
    // huge watermark delay keeps every day open while data flows;
    // the closing poke then pushes the watermark past every real
    // day's end, firing each group's event-time timeout so the
    // trailing-window merges emit. The streamed (event_type, day,
    // hll_users, branch) rows must equal the batch cube's sketch
    // columns digit-for-digit at two SFs.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val evs = Tables(spark, dir, "events")
        .select(unix_seconds(col("ts")).as("sec"), col("event_type"), col("user_id"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val lines = evs.map { case (sec, et, uid) => s"$sec $et $uid" }.toSeq
      val maxSec = evs.map(_._1).max
      val ms = MemoryStream[String]
      val sink = s"hllroll_feed_${System.nanoTime()}"
      val q = Gateway.hllRollingFeed(ms.toDF(), watermarkDelay = "3650 days")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
        assert(parts.size >= 3)
        parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
        ms.addData(parts.head: _*) // replay: registers already at max
        q.processAllAvailable()
        val closeSec = maxSec + 3700L * 86400L
        ms.addData(s"$closeSec zz_close 1"); q.processAllAvailable()
        ms.addData(s"$closeSec zz_close 1"); q.processAllAvailable()
        val streamed = spark.table(sink)
          .select(col("event_type"), col("day"), col("hll_users"), col("branch"))
          .as[(String, Long, Long, String)].collect().toSet
        val batch = SparkEntry.queries("q_hll_rolling")(spark, dir)
          .select(col("event_type"), col("day"), col("hll_users"), col("branch"))
          .as[(String, Long, Long, String)].collect().toSet
        assert(batch.nonEmpty, s"vacuous at $dir: empty batch rolling cube")
        assert(streamed === batch,
          s"rolling-HLL dial stream diverges from the batch cube at $dir")
      } finally q.stop()
    }
  }

  test("streaming length-quantile dial: stream == batch q_hist_quantiles sketch at two SFs") {
    // Streaming X158: the corpus in one event-time window across three
    // micro-batches — the feed's per-source (q_pct, n_docs, est, lo,
    // hi) rows must equal the batch query's sketch columns
    // digit-for-digit (same bins -> same dictionary -> the HOF rank
    // fold computes the cumulative window's integers).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables(spark, dir, "documents").select("source", "text")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val base = 1700000000L
      val lines = docs.map { case (src, t) => s"$base $src $t" }.toSeq
      val ms = MemoryStream[String]
      val sink = s"histq_feed_${System.nanoTime()}"
      val q = Gateway.histQuantilesFeed(ms.toDF(), windowDuration = "1 day",
          watermarkDelay = "1 hour")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val parts = lines.grouped(math.max(1, lines.size / 3)).toSeq
        assert(parts.size >= 3)
        parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
        ms.addData(s"${base + 10 * 86400} srcX closing words here"); q.processAllAvailable()
        ms.addData(s"${base + 10 * 86400} srcX closing words here"); q.processAllAvailable()
        val streamed = spark.table(sink)
          .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
          .select(col("source"), col("q_pct"), col("n_docs"), col("est"),
            col("lo"), col("hi"))
          .as[(String, Long, Long, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("q_hist_quantiles")(spark, dir)
          .select(col("source"), col("q_pct"), col("n_docs"), col("est"),
            col("lo"), col("hi"))
          .as[(String, Long, Long, Long, Long, Long)].collect().toSet
        assert(batch.nonEmpty, s"vacuous at $dir: empty batch quantile table")
        assert(streamed === batch,
          s"length-quantile dial diverges from the batch sketch at $dir")
      } finally q.stop()
    }
  }

  test("streaming rank-eval monitor: per-window P@K/nDCG/MRR, stream == batch q_rank_eval") {
    // Streaming X138: the batch eval's own judged top-20 streamed as
    // an impression log across three micro-batches (plus an
    // at-least-once replay of the first chunk, absorbed by the
    // per-rank max) — the feed's one-window ladder must equal the
    // declared q_rank_eval rows digit-for-digit, with the corpus
    // relevance histogram shipped as the offline artifact.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val judged = graft.operators.Search.judgedRanking(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(judged.length === 20, s"expected the judged top-20, got ${judged.length}")
    val relHist = graft.operators.Search.relGraded(spark, dir)
      .groupBy("rel").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val base = 1700000000L
    val lines = judged.map { case (rk, rel) => s"$base $rk $rel" }
    val ms = MemoryStream[String]
    val sink = s"rankeval_feed_${System.nanoTime()}"
    val q = Gateway.rankEvalFeed(ms.toDF(), relHist, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val parts = lines.grouped(math.max(1, lines.length / 3)).toSeq
      assert(parts.size >= 3)
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      ms.addData(parts.head: _*) // replay: absorbed by the per-rank max
      q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 1 0"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 1 0"); q.processAllAvailable()
      val streamed = spark.table(sink)
        .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
        .select(col("k"), col("p_at_k"), col("ndcg"), col("mrr"))
        .as[(Long, Double, Double, Double)].collect().toSet
      val batch = SparkEntry.queries("q_rank_eval")(spark, dir)
        .as[(Long, Double, Double, Double)].collect().toSet
      assert(batch.nonEmpty, "vacuous: empty batch rank eval")
      assert(streamed === batch, "rank-eval stream diverges from the batch eval")
      // the eval must discriminate: some ndcg digit below 1.0
      assert(streamed.exists(r => r._3 > 0.0 && r._3 < 1.0),
        "vacuous: nDCG saturated — the grade no longer differentiates inside the top-20")
    } finally q.stop()
  }

  test("rankEvalFeed (rank, doc) state: two distinct docs at one rank score as two " +
    "impressions (averaged, never maxed); per-doc replay still collapses (r16 ADVICE, r18)") {
    // The structural close of the multi-impression inflation: a log
    // carrying doc ids keys stage-1 state by (rank, doc), so a replay
    // of docA at rank 1 is absorbed by max(rel) while docB genuinely
    // served at rank 1 counts as a second impression — the K-ladder
    // then reads the per-rank AVERAGE (exact HALF_UP rationals), so
    // live quality is the traffic actually served, not the best
    // document shown. Expectations are a sequential recount with a
    // HAND-DERIVED ideal ladder for the fixture histogram.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    val relHist = Seq((3L, 1L), (2L, 4L), (1L, 10L), (0L, 30L))
    val lines = Seq(
      s"$base 1 3 docA", s"$base 1 1 docB", s"$base 1 3 docA", // 2 docs + replay at rank 1
      s"$base 2 2 docC", s"$base 3 1 docD", s"$base 4 0 docE", s"$base 5 2 docF")
    val ms = MemoryStream[String]
    val sink = s"rankeval_docs_${System.nanoTime()}"
    val q = Gateway.rankEvalFeed(ms.toDF(), relHist, "1 day", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      ms.addData(lines: _*); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 1 0 flush"); q.processAllAvailable()
      ms.addData(s"${base + 10 * 86400} 1 0 flush2"); q.processAllAvailable()
      val streamed = spark.table(sink)
        .filter(unix_seconds(col("window_start")) === (base / 86400) * 86400)
        .select(col("k"), col("p_at_k"), col("ndcg"), col("mrr"))
        .as[(Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential recount: per-rank deduped (rank, doc) -> max(rel)
      val perRank = Map(1L -> Seq(3L, 1L), 2L -> Seq(2L), 3L -> Seq(1L),
        4L -> Seq(0L), 5L -> Seq(2L))
      def t6(rk: Long, rel: Long): Long =
        math.round(1000000.0 * ((1L << rel) - 1).toDouble /
          (math.log(rk + 1.0) / math.log(2.0)))
      def avg(sum: Long, c: Long): Long = (2 * sum + c) / (2 * c)
      // hand-derived ideal from the histogram (cum >=: 3->1, 2->5,
      // 1->15, 0->45): rank 1 grade 3, ranks 2..5 grade 2,
      // ranks 6..15 grade 1, 16..20 grade 0
      def idealRel(rk: Long): Long =
        if (rk == 1) 3 else if (rk <= 5) 2 else if (rk <= 15) 1 else 0
      val expected = Seq(5L, 10L, 20L).map { k =>
        val ranks = perRank.filter(_._1 <= k)
        val hits6 = ranks.values.map(ds => avg(1000000L * ds.count(_ >= 2), ds.size)).sum
        val dcg6 = ranks.map { case (rk, ds) => avg(ds.map(t6(rk, _)).sum, ds.size) }.sum
        val idcg6 = (1L to math.min(k, 20L)).map(rk => t6(rk, idealRel(rk))).sum
        val p = ((2 * hits6 + 100 * k) / (200 * k)) / 10000.0
        val ndcg = ((20000 * dcg6 + idcg6) / (2 * idcg6)) / 10000.0
        k -> ((p, ndcg, 1.0)) // rel-3 doc sits at rank 1 -> MRR 1.0
      }.toMap
      assert(streamed.keySet === expected.keySet)
      expected.foreach { case (k, (p, ndcg, mrr)) =>
        assert(streamed(k) === ((p, ndcg, mrr)), s"k=$k: ${streamed(k)} != ($p, $ndcg, $mrr)")
      }
      // non-vacuity: the average genuinely moved vs the pre-r18 max
      // reduction (rank-1 term 4e6, not 7e6), so k=5 nDCG must sit
      // strictly below the max-based recount
      val dcgMax6 = perRank.map { case (rk, ds) => t6(rk, ds.max) }.sum
      val idcg5 = (1L to 5L).map(rk => t6(rk, idealRel(rk))).sum
      assert(expected(5L)._2 < ((20000 * dcgMax6 + idcg5) / (2 * idcg5)) / 10000.0,
        "vacuous fixture: averaging did not move the dial vs max(rel)")
    } finally q.stop()
  }

  test("funnelFeed: stage stream rebuilds exactly the batch q_funnel rows; replay emits nothing") {
    // The R28 twin: a horizon-bounded corpus (span < the 24 h
    // conversion window — the regime where the TTL'd stream and the
    // batch funnel agree exactly, per the funnelFeed scaladoc) fed in
    // event-time order across three micro-batches; the emitted stage
    // transitions, folded per user, must equal the batch funnel's
    // (t_view, t_click, t_purchase, depth) for every user — depth-0
    // users emit nothing and carry -1s in the batch table. The
    // fixture is synthetic so every admission rule is exercised:
    // strictly-after ties, click-without-view, purchase-without-click,
    // duplicate views/clicks, junk event types. (Out-of-window
    // rejection and state expiry live in the TTL test below — they
    // need a span wider than the window.)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0us = 1700000000000000L
    val minUs = 60L * 1000000L
    val evs = (1 to 210).flatMap { u =>
      val base = t0us + (u * 37 % 1000) * minUs
      val pat: Seq[(String, Long)] = u % 7 match {
        case 0 => Seq(("view", base))
        case 1 => Seq(("view", base), ("click", base + 5 * minUs),
          ("purchase", base + 10 * minUs))
        case 2 => // second click ignored by both engines (earliest wins)
          Seq(("view", base), ("click", base + 5 * minUs), ("click", base + 8 * minUs))
        case 3 => Seq(("click", base + 5 * minUs)) // click without view: depth 0
        case 4 => Seq(("purchase", base + 5 * minUs), ("other", base + 6 * minUs))
        case 5 => // purchase without click rejected; second view ignored
          Seq(("view", base), ("purchase", base + 5 * minUs), ("view", base + 6 * minUs))
        case _ => // same-instant click ties the view: rejected (strictly
          // after); the +3m click is the earliest ADMISSIBLE one
          Seq(("view", base), ("click", base), ("click", base + 3 * minUs),
            ("purchase", base + 4 * minUs))
      }
      pat.map { case (tpe, us) => UserEvent(u.toLong, tpe, us) }
    }.toArray
    val dir = Files.createTempDirectory("graft_funnel_fixture").toString
    evs.toSeq.toDF()
      .select(col("userId").as("user_id"), col("eventType").as("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val sorted = evs.sortBy(e => (e.us, e.userId)) // the gateway's in-order arrival contract
    val parts = sorted.grouped(math.max(1, sorted.length / 3)).toSeq
    assert(parts.size >= 3, "need >= 3 micro-batches to exercise the funnel state")
    val ms = MemoryStream[UserEvent]
    val sink = s"funnel_feed_${System.nanoTime()}"
    val q = Gateway.funnelFeed(ms.toDS())
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      val before = spark.table(sink).count()
      // at-least-once replay: re-deliver the first chunk — every event
      // finds its stage already set, so NOTHING new is emitted
      ms.addData(parts.head: _*)
      q.processAllAvailable()
      assert(spark.table(sink).count() === before, "replayed events re-emitted stages")
      val streamed = spark.table(sink)
        .select(col("userId"), col("stage"), col("us"))
        .as[(Long, Long, Long)].collect()
      assert(streamed.length === streamed.distinct.length, "duplicate stage rows")
      val folded = streamed.groupBy(_._1).map { case (u, rows) =>
        val byStage = rows.map(r => r._2 -> r._3).toMap
        assert(byStage.keySet.forall(Set(1L, 2L, 3L)), s"bad stage for user $u")
        // a reached stage implies every earlier stage was reached
        assert((1L to byStage.keys.max).forall(byStage.contains),
          s"non-contiguous funnel for user $u: ${byStage.keySet}")
        u -> (byStage.getOrElse(1L, -1L), byStage.getOrElse(2L, -1L),
          byStage.getOrElse(3L, -1L), byStage.size.toLong)
      }
      val batch = SparkEntry.queries("q_funnel")(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(batch.nonEmpty, "vacuous: empty batch funnel")
      // streamed users == batch users with depth >= 1, values equal
      val batchReached = batch.filter(_._2._4 >= 1)
      assert(folded.keySet === batchReached.keySet,
        s"funnel user sets diverge (stream ${folded.size}, batch ${batchReached.size})")
      folded.foreach { case (u, f) =>
        assert(f === batchReached(u), s"funnel row diverges for user $u: $f vs ${batchReached(u)}")
      }
      // every depth the batch realizes is realized by the stream too
      assert(batch.values.map(_._4).toSet.filter(_ >= 1) ===
        folded.values.map(_._4).toSet, "depth distribution diverges")
      // the fixture must realize every depth, or the parity is vacuous
      assert(folded.values.map(_._4).toSet === Set(1L, 2L, 3L),
        "fixture failed to realize depths 1, 2 and 3")
    } finally q.stop()
  }

  test("funnelFeed: state expires past the conversion window; re-admission opens a new funnel") {
    // The TTL pin (the dedupExactFeed two-halves pattern): states
    // whose anchor + window fell behind the watermark are evicted, a
    // post-expiry re-view starts a NEW funnel (stage 1 emits again),
    // and a post-expiry replay of a LATER stage finds no state and is
    // safely rejected. Also pins in-stream out-of-window rejection
    // (the constraint the horizon-bounded parity test cannot reach).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0us = 1800000000000000L
    val h = 3600L * 1000000L
    val ms = MemoryStream[UserEvent]
    val sink = s"funnel_ttl_${System.nanoTime()}"
    val q = Gateway.funnelFeed(ms.toDS())
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    def rows(): Set[(Long, Long, Long)] = spark.table(sink)
      .select(col("userId"), col("stage"), col("us"))
      .as[(Long, Long, Long)].collect().toSet
    try {
      // b1: u1 opens a funnel; u2 completes one; u3 opens one
      ms.addData(
        UserEvent(1L, "view", t0us),
        UserEvent(2L, "view", t0us), UserEvent(2L, "click", t0us + 1 * h),
        UserEvent(2L, "purchase", t0us + 2 * h),
        UserEvent(3L, "view", t0us))
      q.processAllAvailable()
      val afterB1 = Set((1L, 1L, t0us), (2L, 1L, t0us), (2L, 2L, t0us + 1 * h),
        (2L, 3L, t0us + 2 * h), (3L, 1L, t0us))
      assert(rows() === afterB1)
      // b2: u3's click lands 1 ms PAST the 24 h window — its state is
      // still alive (watermark is only t0+2h) so this pins the window
      // constraint itself, not expiry; u9 drags the watermark 3 days out
      ms.addData(
        UserEvent(3L, "click", t0us + 24 * h + 1000L),
        UserEvent(9L, "view", t0us + 72 * h))
      q.processAllAvailable()
      val afterB2 = afterB1 + ((9L, 1L, t0us + 72 * h))
      assert(rows() === afterB2, "out-of-window click must not emit stage 2")
      // b3: tick batch — u1/u2/u3 anchors + window are now behind the
      // t0+72h watermark: evicted silently; u9's duplicate view ignored
      ms.addData(UserEvent(9L, "view", t0us + 73 * h))
      q.processAllAvailable()
      assert(rows() === afterB2, "eviction must not emit; duplicate view must not emit")
      // b4: u1 re-views AFTER expiry -> a new funnel (stage 1 again);
      // u2's replayed purchase and u3's replayed VIEW are both older
      // than the watermark -> dropped as late input before the state
      // function (the view would otherwise be ADMITTED by u3's now-
      // fresh state — this pins that post-expiry replays cannot
      // resurrect or restart a funnel)
      ms.addData(
        UserEvent(1L, "view", t0us + 80 * h),
        UserEvent(2L, "purchase", t0us + 2 * h),
        UserEvent(3L, "view", t0us))
      q.processAllAvailable()
      assert(rows() === afterB2 + ((1L, 1L, t0us + 80 * h)),
        "post-expiry re-view must open a new funnel; post-expiry replays must not emit")
    } finally q.stop()
  }

  test("upsertFeed: scrambled cross-batch CDC ops converge to the batch q_upsert verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the same four deterministic streams the batch operator derives
    // (X89: ins seq1 on %13=5, u1 seq2 on %7=3, u2 seq3 on %14=3,
    // del seq4 on %11=4), delivered OUT of sequence order across
    // micro-batches — latest-wins must be by seq, not arrival
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat(col("text"), lit(" i1"))),
        md5(concat(col("text"), lit(" u1"))),
        md5(concat(col("text"), lit(" u2"))))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def inBase(id: Long) = id % 13 != 5
    // commit times ride seq at 1 s spacing — the whole feed spans 4 s,
    // far inside the 7-day retention horizon, so no state expires and
    // the batch-parity contract applies (expiry has its own test below)
    val t0us = 1700000000000000L
    val ops = docs.flatMap { case (id, i1, u1, u2) =>
      Seq(
        Option.when(id % 13 == 5)(CdcOp(id, 1L, "U", i1, inBase(id), t0us + 1000000L)),
        Option.when(id % 7 == 3)(CdcOp(id, 2L, "U", u1, inBase(id), t0us + 2000000L)),
        Option.when(id % 14 == 3)(CdcOp(id, 3L, "U", u2, inBase(id), t0us + 3000000L)),
        Option.when(id % 11 == 4)(CdcOp(id, 4L, "D", null, inBase(id), t0us + 4000000L))
      ).flatten
    }
    assert(ops.nonEmpty && ops.exists(_.op == "D") && ops.exists(!_.inBase))
    // scramble: high seqs first, then lows — three batches
    val parts = ops.sortBy(o => (-o.seq, o.docId)).grouped((ops.length + 2) / 3).toSeq
    assert(parts.size >= 3)
    val ms = MemoryStream[CdcOp]
    val sink = s"upsert_feed_${System.nanoTime()}"
    // the scramble spans 4 s of commit time delivered out of order, so
    // the watermark delay must cover the reordering or the low-seq ops
    // are dropped as late — the sizing contract the scaladoc states
    val q = Gateway.upsertFeed(ms.toDS(), watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    try {
      parts.foreach { p => ms.addData(p: _*); q.processAllAvailable() }
      // update-mode memory sink appends each emission; a key's verdict
      // is its LAST emitted row (track by max nOps — monotone per key)
      val finals = spark.table(sink)
        .select(col("docId"), col("h"), col("origin"), col("nOps"), col("live"))
        .collect().map(r => (r.getLong(0),
          (Option(r.getString(1)), r.getString(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).maxBy(_._3) }
      val batch = SparkEntry.queries("q_upsert")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
      val touched = ops.map(_.docId).toSet
      assert(finals.keySet === touched, "stream emitted verdicts for the wrong key set")
      finals.foreach { case (id, (h, origin, nOps, live)) =>
        batch.get(id) match {
          case Some((bh, bo, bn)) => // live in batch output
            assert(live == 1L && h.contains(bh) && origin == bo && nOps == bn,
              s"key $id: stream ($h, $origin, $nOps, live=$live) vs batch ($bh, $bo, $bn)")
          case None => // deleted by the feed → tombstone
            assert(live == 0L && h.isEmpty,
              s"key $id deleted in batch but stream says live=$live h=$h")
        }
      }
      // untouched base rows are the batch side's kept rows only
      assert(batch.keys.count(id => !touched.contains(id)) > 0,
        "no untouched kept rows — the batch/stream division of labour is vacuous")
    } finally q.stop()
  }

  test("upsertFeed: key state expires past the retention horizon; a fresh op restarts the merge") {
    // The TTL pin: a key idle for longer than retainUs against the
    // watermark is evicted (emitting nothing — its verdict lives in
    // the downstream view), and a later op for that key REBUILDS the
    // merge state from scratch: nOps restarts at 1 where an unexpired
    // key's second op reads 2. Both behaviors in one run.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0us = 1800000000000000L
    val day = 86400L * 1000000L
    val ms = MemoryStream[CdcOp]
    val sink = s"upsert_ttl_${System.nanoTime()}"
    val q = Gateway.upsertFeed(ms.toDS()) // default retainUs = 7 days
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    def rows(): Seq[(Long, String, String, Long, Long)] = spark.table(sink)
      .select(col("docId"), col("h"), col("origin"), col("nOps"), col("live"))
      .as[(Long, String, String, Long, Long)].collect().toSeq
    try {
      ms.addData(CdcOp(1L, 1L, "U", "p1", true, t0us))
      q.processAllAvailable()
      // k2 thirty days later drags the watermark far past k1's horizon
      ms.addData(CdcOp(2L, 1L, "U", "q1", false, t0us + 30 * day))
      q.processAllAvailable()
      // tick: k1 (idle, horizon passed) is evicted silently; k2 is
      // inside its horizon and keeps accumulating (nOps -> 2)
      ms.addData(CdcOp(2L, 2L, "U", "q2", false, t0us + 30 * day + 1000000L))
      q.processAllAvailable()
      assert(rows().count(_._1 == 1L) === 1, "eviction must not emit")
      // k1 returns after expiry: merge state restarted from scratch
      ms.addData(CdcOp(1L, 5L, "U", "p2", true, t0us + 31 * day))
      q.processAllAvailable()
      val k1 = rows().filter(_._1 == 1L).map(r => (r._2, r._3, r._4, r._5))
      assert(k1.toSet === Set(("p1", "updated", 1L, 1L), ("p2", "updated", 1L, 1L)),
        s"post-expiry op must restart nOps at 1, got $k1")
      assert(k1.size === 2, s"expected exactly the pre- and post-expiry emissions, got $k1")
      val k2 = rows().filter(_._1 == 2L).map(r => (r._2, r._4)).sortBy(_._2)
      assert(k2 === Seq(("q1", 1L), ("q2", 2L)),
        s"unexpired key must keep accumulating nOps, got $k2")
    } finally q.stop()
  }

  test("cupedFeed/abFeed overflow guard: planted 1e18 covariates read overflow=1 + NULL stats, " +
    "no-signal and active windows read 0") {
    // r16 VERDICT #1: under ansi = false (the mode this test pins —
    // ANSI-on, Spark 4's default, fails the batch fast instead, which
    // is loud and needs no guard) DECIMAL(38,0) overflow yields NULL,
    // which a dashboard would misread as "no signal". The guard
    // column must separate the three regimes — (A) active signal,
    // (B) genuine degeneracy (constant covariate: theta = 0 by the
    // stated CASE), (C) overflow past the documented n·X <= 1e8 bound
    // — with overflow = 0, 0, 1 respectively and NULL stats ONLY in
    // (C). Batch invocation exercises the identical expressions the
    // stream runs (the existing parity test pins stream == batch).
    import spark.implicits._
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
    val base = 1700000000L
    // 4e18: x² ≈ 1.6e37 still fits the per-cell Σx² decimal, but the
    // stage-3 n·sxx intermediate (~5.8e38) blows 38 digits → var_n
    // NULLs and every downstream stat NULLs with it. (Smaller plants
    // don't overflow: the exact forms cancel the B² terms, so the
    // first thing to die is this intermediate, exactly as the
    // documented n·X <= 1e8 bound predicts.)
    val big = 4000000000000000000L
    def fmt(r: (Long, Int, Long, Long, Long)) = s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}"
    // day A: sane correlated units (theta active); day B: constant
    // covariate (no signal); day C: planted overflow
    val dayA = (0 until 12).map { u =>
      val x = (u % 4).toLong
      (base + u, u % 2, 1000L + u, x, x + (u % 2) + 1L)
    }
    val dayB = (0 until 12).map { u => (base + 86400 + u, u % 2, 2000L + u, 7L, (u % 3).toLong + 1L) }
    val dayC = (0 until 6).map { u =>
      (base + 2 * 86400 + u, u % 2, 3000L + u, big + u * 1000000000000000L, (u % 3).toLong + 1L)
    }
    val out = Gateway.cupedFeed((dayA ++ dayB ++ dayC).map(fmt).toDF("value"), "1 day", "1 hour")
      .select(unix_seconds(col("window_start")),
        col("mean_adj_0"), col("mean_adj_1"), col("theta"), col("var_reduction"), col("overflow"))
      .collect().map(r => (r.getLong(0) / 86400 - base / 86400,
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), r.getLong(5))))
      .toMap
    assert(out.keySet === Set(0L, 1L, 2L))
    val (a, b, c) = (out(0L), out(1L), out(2L))
    assert(a._5 === 0L && a._4.exists(_.asInstanceOf[Double] != 0.0),
      s"day A must read active signal with overflow=0: $a")
    assert(b._5 === 0L && b._4.contains(0.0) && b._3.contains(0.0),
      s"day B is genuine no-signal: overflow=0, theta=0: $b")
    assert(c._5 === 1L, s"day C must flag overflow=1: $c")
    assert(c._1.isEmpty && c._2.isEmpty && c._3.isEmpty && c._4.isEmpty,
      s"day C's overflowed stats must surface as NULL, never silent zeros: $c")
    // abFeed carries the same guard; its count-driven intermediates
    // cannot be planted past 38 digits without ~9e6 distinct users, so
    // pin the healthy-path reading: overflow = 0 on every window
    val ab = Gateway.abFeed(
      (0 until 40).map(u => s"${base + u} ${u % 2} ${100L + u} ${u % 3 min 1}").toDF("value"),
      "1 day", "1 hour")
      .select(col("overflow")).as[Long].collect()
    assert(ab.nonEmpty && ab.forall(_ == 0L), "abFeed healthy path must read overflow=0")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("abVerdict scaled-intermediate overflow: forged 1e7-user cells where num/den FIT but " +
    "10000·num does not read overflow=1 + NULL verdict, never significant=0 (r18 ADVICE)") {
    // The r17 guard keyed on num/den alone; the verdict's scaled
    // forms (10000·num, 38415·den, 20000·num + den) need ~4 more
    // digits, so around 1e7 users/cell they NULL while num/den still
    // fit — and the bare CASE then fell to ELSE 0: a confident
    // "not significant" on an overflowed row. Counts this large
    // cannot be planted as rows, so the factored abVerdict runs the
    // identical expressions on forged 2×2 cells. a = d = 1e7,
    // b = c = 0: num = 2e7·(1e14)² = 2e35 (fits 38 digits),
    // 10000·num = 2e39 (does not) — the exact corner.
    import spark.implicits._
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val forged = Seq(
        (0L, 10000000L, 0L, 0L, 10000000L), // scaled-form overflow
        (86400L, 30L, 70L, 60L, 40L))       // healthy strong effect
        .toDF("w", "a", "b", "c", "d")
        .withColumn("window", struct(timestamp_seconds(col("w")).as("start")))
        .drop("w")
      val out = Gateway.abVerdict(forged)
        .select(unix_seconds(col("window_start")), col("chi2"),
          col("significant"), col("overflow"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), r.getLong(3)))).toMap
      val (ovfl, ok) = (out(0L), out(86400L))
      assert(ovfl._3 === 1L, s"scaled-form overflow must flag overflow=1: $ovfl")
      assert(ovfl._1.isEmpty && ovfl._2.isEmpty,
        s"overflowed chi2/significant must be NULL, never a confident 0: $ovfl")
      assert(ok._3 === 0L && ok._2.contains(1L) &&
        ok._1.exists(_.asInstanceOf[Double] > 3.8415),
        s"healthy cells must stay significant with overflow=0: $ok")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("cupedFeed var_reduction NULL short-circuit: overflowed var_n with a degenerate " +
    "vary_n = 0 reads NULL, never a silent 0.0 (r18 ADVICE)") {
    // NULL OR TRUE = TRUE: the old `when(var_n === 0 || vary_n === 0,
    // 0L)` hit its 0-arm when var_n was NULL (overflow) and vary_n
    // was genuinely 0 — var_reduction showed 0.0 on a row whose
    // overflow flag is 1. Plant exactly that window: three users,
    // covariates ±4e18 (n·sxx ≈ 1.44e38 blows 38 digits → var_n
    // NULL) and a CONSTANT outcome (vary_n = 0 exactly).
    import spark.implicits._
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val base = 1700000000L
      val big = 4000000000000000000L
      val lines = Seq(
        s"$base 0 1 $big 1",
        s"${base + 1} 1 2 ${-big} 1",
        s"${base + 2} 0 3 $big 1")
      val out = Gateway.cupedFeed(lines.toDF("value"), "1 day", "1 hour")
        .select(col("var_reduction"), col("overflow")).collect()
      assert(out.length === 1)
      assert(out.head.getLong(1) === 1L, "planted window must flag overflow=1")
      assert(out.head.isNullAt(0),
        "var_reduction must be NULL on the overflowed row, not a silent 0.0")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("cupedFeed raw means round negative outcome sums HALF_UP, like an exact recount") {
    // `y:long` admits negative outcomes; the raw mean must round away
    // from zero at the half like every other 4dp statistic here, not
    // truncate toward zero. Day A's covariate is constant (var_n = 0),
    // so its adjusted means are the raw means too; day B's varies.
    import spark.implicits._
    val base = 1700000000L
    val rnd = new scala.util.Random(7)
    // (epoch, variant, user, x, y)
    val dayA = (0 until 23).map(u => (base + u, u % 2, 100L + u, 2, -rnd.nextInt(9)))
    val dayB = (0 until 31).map(u =>
      (base + 86400 + u, u % 2, 200L + u, rnd.nextInt(5), rnd.nextInt(11) - 8))
    val lines = (dayA ++ dayB).map { case (e, v, u, x, y) => s"$e $v $u $x $y" }
    val out = Gateway.cupedFeed(lines.toDF("value"), "1 day", "1 hour")
      .select(unix_seconds(col("window_start")), col("mean_0"), col("mean_1"),
        col("mean_adj_0"), col("mean_adj_1"))
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    def halfUp(rows: Seq[(Long, Int, Long, Int, Int)], v: Int): Double = {
      val ys = rows.filter(_._2 == v).map(_._5)
      java.math.BigDecimal.valueOf(ys.sum.toLong)
        .divide(java.math.BigDecimal.valueOf(ys.size.toLong), 4, java.math.RoundingMode.HALF_UP)
        .doubleValue
    }
    for ((rows, name) <- Seq(dayA -> "A", dayB -> "B")) {
      val got = out((rows.head._1 / 86400) * 86400)
      assert((got._2, got._3) === (halfUp(rows, 0), halfUp(rows, 1)),
        s"day $name raw means are not the HALF_UP recount")
    }
    val a = out((base / 86400) * 86400)
    assert((a._4, a._5) === (a._2, a._3), "degenerate day A: adjusted means must equal raw")
  }

  test("upsertFeed watermark sizing: a trailing CDC op is dropped (and counted) at 0s delay, " +
    "admitted under the 10-minute default") {
    // r16 ADVICE (medium): the old 0-second default silently dropped
    // any op whose commit time trailed a prior micro-batch's max event
    // time — a dropped DELETE leaves a stale live=1 verdict with no
    // error. Two pins: (1) at an explicit "0 seconds" the late DELETE
    // is dropped BEFORE the state function and droppedLateRows makes
    // the drop observable (nonzero); (2) the same delivery under the
    // new default admits it (5-minute trail < 10-minute delay) and the
    // verdict flips to the tombstone.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0us = 1800000000000000L
    val hourUs = 3600L * 1000000L
    def run(delay: Option[String]): (Seq[(Long, Long)], Long) = {
      val ms = MemoryStream[CdcOp]
      val sink = s"upsert_late_${System.nanoTime()}"
      val feed = delay match {
        case Some(d) => Gateway.upsertFeed(ms.toDS(), watermarkDelay = d)
        case None => Gateway.upsertFeed(ms.toDS())
      }
      val q = feed.writeStream.format("memory").queryName(sink).outputMode("update").start()
      try {
        // b1: key 1 upserted; key 2 drags the max event time 1 h out
        ms.addData(
          CdcOp(1L, 1L, "U", "p1", true, t0us),
          CdcOp(2L, 1L, "U", "q1", true, t0us + hourUs))
        q.processAllAvailable()
        // b2: key 1's DELETE trails the b1 max by 5 minutes
        ms.addData(CdcOp(1L, 2L, "D", null, true, t0us + hourUs - 300L * 1000000L))
        q.processAllAvailable()
        val verdicts = spark.table(sink).filter(col("docId") === 1L)
          .select(col("nOps"), col("live")).as[(Long, Long)].collect().toSeq
        (verdicts, Gateway.droppedLateRows(q))
      } finally q.stop()
    }
    val (atZero, droppedAtZero) = run(Some("0 seconds"))
    assert(atZero === Seq((1L, 1L)),
      s"0s delay: the late DELETE must be dropped, leaving the stale live=1 verdict: $atZero")
    assert(droppedAtZero >= 1L,
      "the drop must be observable: droppedLateRows must count the late op")
    val (atDefault, droppedAtDefault) = run(None)
    assert(atDefault.toSet === Set((1L, 1L), (2L, 0L)),
      s"default delay: the trailing DELETE must be admitted and tombstone the key: $atDefault")
    assert(droppedAtDefault === 0L, "default delay must not drop the 5-minute trail")
  }

  test("every feed line parser drops malformed lines: output(valid ∪ malformed) == output(valid)") {
    // One table row per feed whose arguments are plain values. The
    // feed-line grammar is `epoch_sec tok… [rest]`; a line with the
    // wrong token count or a non-numeric token where the feed needs a
    // number must be dropped by the parse — under Spark 4's default
    // ANSI mode a bare `cast` guard throws CAST_INVALID_INPUT there
    // instead, and one bad line stops the whole feed. Feeds run as
    // batch jobs on one ordered partition (hitterFeed's sketch is
    // fold-order dependent); the three whose operators only exist on
    // streams run on a MemoryStream closed by a far-future line.
    // manifestFeed has no line grammar (every line is a row), and the
    // feeds taking index or dictionary frames are out of this table.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val en = "the a of to and is in " + (1 to 14).map(i => s"tok$i").mkString(" ")
    val evalVecs = Seq((1L, Seq(1.0, 0.0))).toDF("eval_id", "ev")
    // (name, feed, bodies after the epoch, numeric token positions
    // counted from the epoch at 0, fewest tokens a valid line has,
    // streaming-only)
    val cases: Seq[(String, DataFrame => DataFrame, Seq[String], Seq[Int], Int, Boolean)] = Seq(
      ("curatedFeed", Gateway.curatedFeed(_), Seq(s"1 $en", s"2 $en"), Seq(1), 3, false),
      ("driftFeed", Gateway.driftFeed(_, Seq(0L, 1L, 2L), Seq(1L, 2L, 3L), 3L),
        Seq("power 4.5", "temp 17"), Seq(2), 3, false),
      ("dedupExactFeed", Gateway.dedupExactFeed(_), Seq("power 100.0", "temp 21.5"), Seq(2), 3, true),
      ("hitterFeed", Gateway.hitterFeed(_), Seq(s"1 $en", "2 a b a"), Seq(1), 3, false),
      ("skewFeed", Gateway.skewFeed(_), Seq("k1 x", "k2 y", "k1 z"), Nil, 3, false),
      ("srmFeed", Gateway.srmFeed(_), Seq("0 101", "1 102 1", "0 103"), Seq(1, 2), 3, false),
      ("abFeed", Gateway.abFeed(_), Seq("0 101 1", "1 102 0", "0 103 0 extra"), Seq(1, 2, 3), 4,
        false),
      ("cupedFeed", Gateway.cupedFeed(_),
        Seq("0 101 3 4", "1 102 2 5", "0 103 1 1", "1 104 5 2"), Seq(1, 2, 3, 4), 5, false),
      ("qteFeed", Gateway.qteFeed(_), Seq("0 101 4", "1 102 2", "0 103 7"), Seq(1, 2, 3), 4, false),
      ("calibrationFeed", Gateway.calibrationFeed(_), Seq(s"1 $en", s"2 $en x"), Seq(1), 3, false),
      ("watermarkFeed", Gateway.watermarkFeed(_), Seq(s"1 $en", "2 some other words"), Seq(1), 3,
        false),
      ("rankEvalFeed", Gateway.rankEvalFeed(_, Seq((3L, 2L), (1L, 5L))),
        Seq("1 3", "2 1 d7", "2 0 d8"), Seq(1, 2), 3, false),
      ("temperatureFeed", Gateway.temperatureFeed(_), Seq("1 en", "2 de", "3 en"), Seq(1), 3, false),
      ("unimaxFeed", Gateway.unimaxFeed(_), Seq(s"1 en $en", "2 de drei worte hier"), Seq(1), 4,
        false),
      ("hllFeed", Gateway.hllFeed(_), Seq(s"src1 $en", "src2 two words"), Nil, 3, false),
      ("hllRollingFeed", Gateway.hllRollingFeed(_), Seq("view 101", "click 102", "view 103"),
        Seq(2), 3, true),
      ("histQuantilesFeed", Gateway.histQuantilesFeed(_), Seq(s"src1 $en", "src2 a b"), Nil, 3,
        false),
      ("labelNoiseFeed", Gateway.labelNoiseFeed(_, 1200000L, 2L, 800000L, 2L),
        Seq(s"1 $en", "2 short"), Seq(1), 3, false),
      ("clusterSizesFeed", Gateway.clusterSizesFeed(_), Seq("1 7", "2 7", "3 -3"), Seq(1, 2), 3,
        false),
      ("profileDriftFeed", Gateway.profileDriftFeed(_,
        graft.streaming.ProfileBaseline(10L, 1L, 2L, 2L, 500L, 400L)),
        Seq("1 en src1 120 some text here", "2 - src2 80 more"), Seq(1, 4), 6, false),
      ("topicFeed", Gateway.topicFeed(_), Seq(s"1 $en", "2 court judge law ruling"), Seq(1), 3,
        false),
      ("entityFeed", Gateway.entityFeed(_),
        Seq("src1 mail a@b.com or http://x.io in 2020", "src2 none"), Nil, 3, false),
      ("winsorizeFeed", Gateway.winsorizeFeed(_, Seq(("power", 1000L, 20000L))),
        Seq("power 100.0", "power 5.5", "power 250"), Seq(2), 3, false),
      ("schemaDriftFeed", Gateway.schemaDriftFeed(_, Seq("a")),
        Seq("""1 {"a": 1, "b": 2}""", """2 {"c": true}"""), Seq(1), 3, false),
      ("novelFeed", Gateway.novelFeed(_, Seq("the", "a")), Seq(s"1 $en", "2 zz yy"), Seq(1), 3,
        false),
      ("decontamFeed", Gateway.decontamFeed(_, evalVecs), Seq("7 1.0,0.0", "8 0.6,0.8"), Seq(1), 3,
        true))
    val base = 1700000000L
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def run(feed: DataFrame => DataFrame, lines: Seq[String], close: String,
        streamed: Boolean): Seq[String] =
      if (!streamed) rows(feed(lines.toDF("value").coalesce(1)))
      else {
        val ms = MemoryStream[String]
        val sink = s"malformed_${System.nanoTime()}"
        val q = feed(ms.toDF())
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        try {
          Seq(lines, Seq(close), Seq(close)).foreach { b => ms.addData(b: _*); q.processAllAvailable() }
          rows(spark.table(sink))
        } finally q.stop()
      }
    for ((name, feed, bodies, numeric, minTokens, streamed) <- cases) {
      val valid = bodies.zipWithIndex.map { case (b, i) => s"${base + 3 * i} $b" }
      val toks = valid.head.split(" ")
      val bad = Seq("", toks.head, toks.take(minTokens - 1).mkString(" "),
        ("abc" +: toks.tail).mkString(" ")) ++
        numeric.map(i => toks.updated(i, "x9").mkString(" ")) ++
        (if (name == "decontamFeed") Seq(s"$base 9 1.0,abc") else Nil)
      // interleave so each dropped line sits between valid ones
      val mixed = valid.zipAll(bad, "", "").flatMap { case (v, b) => Seq(v, b) }
      val close = s"${base + 400L * 86400L} ${bodies.head}"
      val clean = run(feed, valid, close, streamed)
      assert(clean.nonEmpty, s"vacuous: $name emits nothing on its valid lines")
      val got =
        try run(feed, mixed, close, streamed)
        catch { case e: Exception => fail(s"$name threw on malformed lines: ${e.getMessage}") }
      assert(got === clean, s"$name: malformed lines changed the output")
    }
  }
}
