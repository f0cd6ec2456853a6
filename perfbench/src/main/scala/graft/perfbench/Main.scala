package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Options of one benchmark run (see run.py for the command line). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    workDir: Path,
    expected: Path,
    plant: String,
    small: Boolean,
    record: Option[Path]) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

/** What a run reports: end-to-end or per-layer metrics plus the
  * attempted/failed tally of its output checks.
  */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var liveHeapMb = 0.0
  var checkpointGcMs = 0L

  /** Heap in use right after a full GC, i.e. the live set, at a fixed
    * point of the run; the largest is reported. The collection's own
    * time is kept out of the run's GC total.
    */
  def heapCheckpoint(): Unit = {
    val g0 = Main.gcMs
    System.gc()
    checkpointGcMs += Main.gcMs - g0
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapMb = math.max(liveHeapMb, used / 1048576.0)
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(what: String, n: Long = 1): Unit = {
    failed += n
    if (failed <= 20) System.err.println(s"perfbench CHECK FAILED: $what")
  }
  def line: String = Json.obj(Seq(
    "correct" -> (if (failed == 0 && attempted > 0) "true" else "false"),
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

/** Codegen and GC counters over the measured part of a run. */
final class RunCounters(res: Result) {
  private val compile0 = CodeGenerator.compileTime
  private val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val gc0 = Main.gcMs
  private val checkpointGc0 = res.checkpointGcMs

  def report(): Unit = {
    res.put("codegen.compile_s", (CodeGenerator.compileTime - compile0) / 1e9, "s")
    res.put("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble, "count")
    res.put("spark.gc_s", (Main.gcMs - gc0 - (res.checkpointGcMs - checkpointGc0)) / 1000.0, "s")
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      dataDir = kv("data"),
      workDir = Paths.get(kv("work")),
      expected = Paths.get(kv("expected")),
      plant = kv.getOrElse("plant", "none"),
      small = kv.getOrElse("small", "0") == "1",
      record = kv.get("record").map(Paths.get(_)))
    Files.createDirectories(o.workDir)
    val res = new Result
    val tracer = new Tracer(o.trace)
    o.workload match {
      case "gateway" => GatewayRun.run(o, res, tracer)
      case "batch" => BatchRun.run(o, res, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.put("live_heap_mb", res.liveHeapMb, "MB")
    res.put("peak_rss_mb", peakRssMb, "MB")
    if (o.trace) {
      val sp = o.workDir.resolve("trace.json")
      tracer.writeJson(sp)
      tracer.selfTimeMs.toSeq.sortBy(-_._2).foreach { case (l, ms) =>
        System.err.println(f"perfbench self time $l%-12s $ms%10.1f ms")
      }
      System.err.println(s"perfbench: spans written to $sp")
    }
    println(res.line)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    sys.exit(0)
  }

  /** The session every workload uses: the engine's bench settings
    * (cores from the host, codegen class cache sized to the query
    * surface) plus GraftConf.ensure.
    */
  def session(o: Opts): SparkSession = {
    val local = o.workDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftConf.ensure(s)
    s
  }

  /** CPU time of the whole process (all threads, JIT and GC included),
    * in seconds.
    */
  def cpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** VmHWM: the JVM's peak resident set so far. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally w.close()
    }
}
