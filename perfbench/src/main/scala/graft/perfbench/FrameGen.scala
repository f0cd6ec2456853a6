package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Open-loop frame generator and emoncms stub, run as one process of
  * its own beside the gateway under test.
  *
  * It spools socket-dialect frames (`"<epoch_s> <node> <v1> <v2> <v3>"`)
  * into a directory, one file per second of event time, and answers
  * the gateway's bulk POSTs with `ok`, keeping the last value posted
  * per (window, node, channel). Everything it writes is derived from
  * `--seed`, and it keeps the ground truth the sinks must equal:
  * per (10 s window, node, channel) the count and sum of the valid,
  * on-time frames, each counted once.
  *
  * Stdout protocol (one line each): `PORT p`, then `FILE name lines
  * due_start_us slots` per spool file, `READY` after the backlog;
  * on `LIVE` from stdin it writes one file per wall-clock second for
  * `--live` seconds, the first just after a multiple of `--period`,
  * and prints `LIVEDONE late_ms_max`; on `STOP` it checks the stub's
  * payloads, writes `truth.csv` and prints `CHECK post_mismatches
  * posts post_bytes truth_keys`.
  *
  * Threads: the main loop plus two HTTP handler threads; one
  * connection per gateway client.
  */
object FrameGen {
  val Channels = 3
  val WindowUs = 10L * 1000 * 1000

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spool = Paths.get(kv("spool"))
    val work = Paths.get(kv("work"))
    val seed = kv("seed").toLong
    val backlog = kv("backlog").toInt
    val liveSeconds = kv("live").toInt
    val rate = kv("rate").toInt
    val nodes = kv("nodes").toInt
    val plant = kv.getOrElse("plant", "none")
    val periodMs = kv("period").toLong * 1000
    Files.createDirectories(spool)

    val gen = new FrameGen(seed, rate, nodes)
    val stub = new Stub
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    server.createContext("/", (ex: HttpExchange) => stub.handle(ex))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    println(s"PORT ${server.getAddress.getPort}")

    // backlog: the frames of the last `backlog / rate` seconds before
    // now, as a bridge would have spooled them during an outage
    val nowUs = System.currentTimeMillis() / 1000 * 1000000L
    val backlogSecs = math.max(1, backlog / rate)
    val t0Us = nowUs - backlogSecs * 1000000L
    var carry = Seq.empty[String]
    for (s <- 0 until backlogSecs) {
      val (ls, next) = gen.second(t0Us + s * 1000000L, carry, late = false, withhold = false)
      carry = next
      write(spool, f"b-$s%06d.txt", ls, t0Us + s * 1000000L, rate)
    }
    println("READY")
    System.out.flush()

    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    if (in.readLine() == "LIVE") {
      // second 0's file lands half a second after a trigger tick of the
      // buffers' period, so each tick reads a whole period of files
      val l0Ms = (System.currentTimeMillis() / periodMs + 1) * periodMs - 1000
      var lateMax = 0.0
      for (s <- 0 until liveSeconds) {
        // open loop: the file for second s is due half a second after
        // s has passed (the bridge's flush), whatever the gateway does;
        // it lands between the buffers' whole-second trigger ticks
        val dueMs = l0Ms + (s + 1) * 1000L + 500
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val startUs = (l0Ms + s * 1000L) * 1000
        val (ls, next) = gen.second(startUs, carry, late = true,
          withhold = plant == "frame" && s == 1)
        carry = next
        write(spool, f"l-$s%06d.txt", ls, startUs, rate)
        lateMax = math.max(lateMax, (System.currentTimeMillis() - dueMs).toDouble)
      }
      println(s"LIVEDONE $lateMax")
      System.out.flush()
      if (in.readLine() == "STOP") {
        val bad = stub.mismatches(gen.truth)
        gen.writeTruth(work.resolve("truth.csv"))
        println(s"CHECK $bad ${stub.posts} ${stub.bytes} ${gen.truth.size}")
      }
    }
    System.out.flush()
    server.stop(0)
    sys.exit(0)
  }

  private def write(dir: Path, name: String, lines: Seq[String], dueStartUs: Long, rate: Int): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    println(s"FILE $name ${lines.size} $dueStartUs $rate")
    System.out.flush()
  }
}

/** The frame schedule: `rate` frame slots per second, node of slot k
  * from a seeded permutation of the node ids (each node reports every
  * nodes/rate seconds). Of the slots, 0.5% carry a malformed line and,
  * in the live phase, 0.5% a frame stamped 10 minutes in the past (far
  * behind the 1-minute watermark); 1% of the frames are delivered a
  * second time in the next file.
  */
final class FrameGen(seed: Long, rate: Int, nodes: Int) {
  private val rng = new java.util.Random(seed)
  private val perm = {
    val a = Array.range(0, nodes)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private var slot = 0L
  /** (window start s, node, channel) → (n, sum) */
  val truth = mutable.HashMap.empty[(Long, Long, Int), (Long, Double)]

  /** Lines of the file for the second starting at `startUs`, plus the
    * duplicates to redeliver with the next file.
    */
  def second(startUs: Long, carry: Seq[String], late: Boolean,
      withhold: Boolean): (Seq[String], Seq[String]) = {
    val out = mutable.ArrayBuffer.empty[String]
    val dups = mutable.ArrayBuffer.empty[String]
    out ++= carry
    var withheld = false
    for (j <- 0 until rate) {
      val dueUs = startUs + j * 1000000L / rate
      val node = 100L + perm((slot % nodes).toInt)
      slot += 1
      val vs = Seq.fill(FrameGen.Channels)((rng.nextInt(100000) - 20000) / 100.0)
      val ts = f"${dueUs / 1000000}.${dueUs % 1000000}%06d"
      val r = rng.nextInt(1000)
      if (r < 5) {
        out += (r match {
          case 0 => s"$ts $node ${vs.head} x${vs(1)}"
          case 1 => s"$ts ? $node 1 2"
          case 2 => s"$ts $node"
          case 3 => s"garbage-$node"
          case _ => s"$ts n$node ${vs.mkString(" ")}"
        })
      } else if (late && r < 10) {
        val lateUs = dueUs - 600L * 1000000
        out += f"${lateUs / 1000000}.${lateUs % 1000000}%06d $node ${vs.mkString(" ")}"
      } else {
        val line = s"$ts $node ${vs.mkString(" ")}"
        val win = dueUs / FrameGen.WindowUs * FrameGen.WindowUs / 1000000
        vs.zipWithIndex.foreach { case (v, c) =>
          val (n, s) = truth.getOrElse((win, node, c), (0L, 0.0))
          truth((win, node, c)) = (n + 1, s + v)
        }
        if (withhold && !withheld) withheld = true // planted defect: never spooled
        else {
          out += line
          if (r >= 990) dups += line
        }
      }
    }
    (out.toSeq, dups.toSeq)
  }

  def writeTruth(p: Path): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try truth.foreach { case ((win, node, c), (n, s)) =>
      w.write(s"$win,$node,$c,$n,${java.lang.Double.toString(s)}\n")
    } finally w.close()
  }
}

/** emoncms bulk endpoint stand-in: decodes each `data=[[Δt,node,ch,v],…]
  * &sentat=T` body and keeps the last value per (window, node, channel).
  */
final class Stub {
  private val last = mutable.HashMap.empty[(Long, Long, Int), Double]
  @volatile var posts = 0L
  @volatile var bytes = 0L

  def handle(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val kv = body.split("&").map { p =>
      val i = p.indexOf('=')
      p.take(i) -> URLDecoder.decode(p.drop(i + 1), "UTF-8")
    }.toMap
    val sentat = kv("sentat").toDouble.toLong
    val rows = kv("data").stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .filter(_.nonEmpty).map(_.split(",").map(_.toDouble))
    synchronized {
      posts += 1
      bytes += body.length
      rows.foreach(r => last((sentat + r(0).toLong, r(1).toLong, r(2).toInt)) = r(3))
    }
    val ok = "ok".getBytes(UTF_8)
    ex.sendResponseHeaders(200, ok.length)
    ex.getResponseBody.write(ok)
    ex.close()
  }

  /** Keys whose last posted average differs from the truth, plus keys
    * posted that the truth does not have.
    */
  def mismatches(truth: collection.Map[(Long, Long, Int), (Long, Double)]): Long = synchronized {
    val wrong = truth.count { case (k, (n, s)) =>
      last.get(k).forall(v => math.abs(v - s / n) > 1e-9 * math.max(1.0, math.abs(s / n)))
    }
    wrong + last.keys.count(k => !truth.contains(k))
  }
}
