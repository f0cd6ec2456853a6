package graft

/** Optimization-round measurement harness (guide §1.5/§7.1): runs the
  * named queries exactly like [[Bench]] (same master/shuffle conf,
  * same table warmup, same timed action) but with the Spark UI LEFT
  * ON and the session held open afterwards, so per-operator SQL
  * metrics / stage timelines can be read for the executed plans.
  * Pure tooling — never part of the driver contract or any query.
  *
  * Usage:
  *   SPARK_GRAFT_QUERIES=q_x,q_y tools/inspect.sh   # holds UI on :4040
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val holdSec = sys.env.getOrElse("SPARK_GRAFT_INSPECT_HOLD_SEC", "600").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_INSPECT_REPS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.build(ui = true)
    Tables.all.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    for (r <- 1 to reps) {
      // as in Bench: every rep re-pays the memo builds
      spark.catalog.clearCache()
      operators.SessionMemo.release(spark)
      for ((name, fn) <- queries) {
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case t: Throwable => System.err.println(s"inspect ERROR $name: $t") }
        System.err.println(f"inspect rep$r $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        spark.sparkContext.setJobDescription(null)
      }
    }
    System.err.println(s"inspect: holding UI at http://localhost:4040 for $holdSec s")
    Thread.sleep(holdSec * 1000L)
    spark.stop()
  }
}
