package graft

import org.apache.spark.sql.functions.col

/** Standing df-saturation guard probe (VERDICT r19 #8): DedupSpec's
  * planted fixture proves the guard MECHANISM (flag, sentinel,
  * refusal), but nothing pinned that the REAL larger corpus — the
  * sf1-shape rehearsal tables, measured saturated at max shingle df
  * 149 > cap 64 — actually runs flagged. This main runs the declared
  * `q_dedup_near` against a given SF dir and exits nonzero unless the
  * output carries the saturation contract: the sentinel row
  * (id_a = id_b = −1) present exactly once and `df_saturated` true on
  * every row. Wired into tools/sf1_rehearsal.sh so every gate run
  * re-proves the 100 TB-shape corpus is loud, not silently degraded.
  *
  * Usage: graft.GuardProbe <sfDir> [expectSaturated=true|false]
  * (false mode is the negative control for headroom-respecting
  * corpora: no sentinel, flag false everywhere.)
  */
object GuardProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1full")
    val expectSaturated = args.lift(1).forall(_.toBoolean)
    val spark = GraftSession.build()
    val near = SparkEntry.queries("q_dedup_near")(spark, sfDir)
    val rows = near.select(col("id_a"), col("df_saturated")).collect()
    val sentinels = rows.count(_.getLong(0) == -1L)
    val flagged = rows.count(_.getBoolean(1))
    val ok =
      if (expectSaturated) sentinels == 1 && flagged == rows.length && rows.nonEmpty
      else sentinels == 0 && flagged == 0
    println(s"guard probe: $sfDir rows=${rows.length} sentinels=$sentinels " +
      s"flagged=$flagged expectSaturated=$expectSaturated -> " +
      (if (ok) "PASS" else "FAIL"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
