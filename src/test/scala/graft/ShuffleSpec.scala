package graft

import graft.operators.Shuffle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X128 shuffle-key skew audit certificates: every declared field
  * recounted sequentially from the raw key columns at two SFs, the
  * fired (skewed) branch driven through the SAME keySkewOf machinery
  * on a zipf fixture (the shipped corpus is healthy — X127 precedent),
  * and the column-pruning plan pin on the dictionary pass.
  */
class ShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Sequential recount of one family's full audit row. */
  private def recount(keys: Seq[String], label: String)
      : (String, Long, Long, Long, String, Double, Long, Long) = {
    val cnt = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = keys.size.toLong
    val nk = cnt.size.toLong
    val mx = cnt.values.max
    val hot = cnt.filter(_._2 == mx).keys.min
    val q4 = ((BigInt(mx) * nk * 20000 + n) / (BigInt(n) * 2)).toLong
    val skewed = if (BigInt(mx) * nk > BigInt(n) * Shuffle.skewThreshold) 1L else 0L
    val salt = if (skewed == 1L) ((BigInt(mx) * nk + n - 1) / BigInt(n)).toLong else 1L
    (label, n, nk, mx, hot, q4 / 10000.0, skewed, salt)
  }

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"q_key_skew: every family's row recounts sequentially at $sf") {
      val got = SparkEntry.queries("q_key_skew")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getDouble(5), r.getLong(6), r.getLong(7)))
      val want = Shuffle.skewFamilies.map { case (t, k) =>
        val keys = Tables(spark, sf, t)
          .select(col(k).cast("string")).collect().map(_.getString(0)).toSeq
        recount(keys, s"$t.$k")
      }.sortBy(_._1)
      assert(got.toSeq === want)
      // the shipped corpus is HEALTHY: no family fires, no salt needed —
      // the degenerate-audit pass state the scaladoc claims
      assert(got.forall(r => r._7 == 0L && r._8 == 1L))
    }

  test("keySkewOf fires on a zipf fixture: verdict, ratio and salt factor exact") {
    import spark.implicits._
    // one hot key with 900 rows + 100 singleton keys: n=1000, nk=101,
    // max=900 -> ratio 90.9001 exact, salt = ceil(900*101/1000) = 91
    val keys = Seq.fill(900)("hot") ++ (1 to 100).map(i => f"k$i%03d")
    val df = keys.toDF("k2")
    val row = Shuffle.keySkewOf(df, "k2", "fixture.k2").collect().head
    assert(row.getLong(1) === 1000L)
    assert(row.getLong(2) === 101L)
    assert(row.getLong(3) === 900L)
    assert(row.getString(4) === "hot")
    assert(row.getDouble(5) === ((BigInt(900) * 101 * 20000 + 1000) / BigInt(2000)).toLong / 10000.0)
    assert(row.getLong(6) === 1L, "zipf fixture must fire the skew verdict")
    assert(row.getLong(7) === 91L, "salt = ceil(max/avg)")
    // recount certificate on the fixture too (both branches now certified)
    assert((row.getString(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getString(4), row.getDouble(5), row.getLong(6), row.getLong(7))
      === recount(keys, "fixture.k2"))
  }

  test("keySkewOf is repartition-invariant (order-free aggregates only)") {
    import spark.implicits._
    val keys = Seq.fill(50)("a") ++ Seq.fill(7)("b") ++ (1 to 20).map("c" + _)
    val a = Shuffle.keySkewOf(keys.toDF("k2"), "k2", "f").collect().head
    val b = Shuffle.keySkewOf(keys.reverse.toDF("k2").repartition(7), "k2", "f")
      .collect().head
    assert(a === b)
  }

  /** One audit row as a plain tuple; NULL fields stay null. */
  private def auditRow(keys: Seq[Option[String]]): Seq[Any] = {
    import spark.implicits._
    val rows = Shuffle.keySkewOf(keys.toDF("k2"), "k2", "f").collect()
    assert(rows.length === 1, "the oracle's ungrouped aggregate returns exactly one row")
    rows.head.toSeq
  }

  test("keySkewOf on an empty key family: one row, n_keys 0, NULL totals, no verdict") {
    // DuckDB: an aggregate without GROUP BY over no groups is one row
    assert(auditRow(Seq.empty) === Seq("f", null, 0L, null, null, null, 0L, 1L))
  }

  test("keySkewOf: a NULL-key group tied at the max count loses to the min non-null key") {
    val keys = Seq.fill(3)(None) ++ Seq.fill(3)(Some("c")) ++ Seq.fill(3)(Some("b")) ++
      Seq(Some("a"))
    assert(auditRow(keys) === Seq("f", 10L, 4L, 3L, "b", 1.2, 0L, 1L))
  }

  test("keySkewOf: a NULL-key group alone at the max count reports a NULL hot key") {
    val keys = Seq.fill(5)(None) ++ Seq.fill(3)(Some("b")) ++ Seq(Some("c"), Some("a"))
    assert(auditRow(keys) === Seq("f", 10L, 4L, 5L, null, 2.0, 0L, 1L))
  }

  test("q_join_plan: the static column catalog matches every table's live parquet schema") {
    import org.apache.spark.sql.types._
    for ((t, cols) <- Shuffle.tableCatalog) {
      val schema = Tables(spark, "/root/testdata/sf0.001", t).schema
      val derived = schema.fields.map { f =>
        f.name -> (f.dataType match {
          case StringType => "str"
          case ArrayType(_, _) => "farr"
          case _ => "fixed"
        })
      }.toSeq
      assert(derived === cols,
        s"catalog drift for $t: schema says $derived, catalog says $cols")
    }
  }

  test("q_join_plan: every pair's bytes/rows/verdicts recount sequentially at two SFs") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // per-table recount off the raw rows with the declared byte model
      val stats = Shuffle.tableCatalog.map { case (t, cols) =>
        val df = Tables(spark, sf, t).select(cols.map(c => col(c._1)): _*)
        val kinds = cols.map(_._2)
        val rows = df.collect()
        val bytes = rows.map { r =>
          kinds.zipWithIndex.map {
            case ("fixed", _) => 8L
            case ("str", i) => 8L + (if (r.isNullAt(i)) 0L else r.getString(i).length.toLong)
            case (_, i) => 8L + 4L * (if (r.isNullAt(i)) 0L else r.getSeq[Any](i).size.toLong)
          }.sum + 8L
        }.sum
        t -> (rows.length.toLong, bytes)
      }
      val want = Shuffle.joinPairs.map { case (j, l, r) =>
        val (ln, lb) = stats(l); val (rn, rb) = stats(r)
        val bcast = math.min(lb, rb) <= Shuffle.broadcastThreshold
        (j, ln, rn, lb, rb, if (rb <= lb) "right" else "left",
          if (bcast) 1L else 0L,
          if (bcast) "broadcast_hash" else "sort_merge",
          if (bcast) 0L else lb + rb)
      }.sortBy(_._1)
      val got = SparkEntry.queries("q_join_plan")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5), r.getLong(6), r.getString(7), r.getLong(8)))
      assert(got.toSeq === want, s"join plan recount diverges at $sf")
      // at the verification SFs every declared pair broadcasts — the
      // honest pass state; the fired branch is fixture-driven below
      assert(got.forall(_._7 == 1L), "expected all-broadcast at small SF")
    }
  }

  test("joinPlanOf fires sort_merge and picks both build sides under a tight threshold") {
    import spark.implicits._
    val stats = Seq(("big", 100L, 5000L), ("small", 10L, 40L), ("mid", 20L, 200L))
      .toDF("t", "n", "b")
    val pairs = Seq(("a_big_small", "big", "small"), ("b_small_big", "small", "big"),
      ("c_big_mid", "big", "mid"))
    val rows = Shuffle.joinPlanOf(stats, pairs, thr = 50L).collect()
      .map(r => (r.getString(0), r.getString(5), r.getString(7), r.getLong(8)))
    assert(rows(0) === (("a_big_small", "right", "broadcast_hash", 0L)),
      "small right side must broadcast")
    assert(rows(1) === (("b_small_big", "left", "broadcast_hash", 0L)),
      "small LEFT side must broadcast with build_side=left")
    assert(rows(2) === (("c_big_mid", "right", "sort_merge", 5200L)),
      "neither side under threshold must shuffle both payloads")
  }

  test("q_part_plan: sizing recounts sequentially at two SFs (degenerate single-task pass state)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val stats = Shuffle.tableCatalog.map { case (t, cols) =>
        val kinds = cols.map(_._2)
        val rows = Tables(spark, sf, t).select(cols.map(c => col(c._1)): _*).collect()
        val bytes = rows.map { r =>
          kinds.zipWithIndex.map {
            case ("fixed", _) => 8L
            case ("str", i) => 8L + (if (r.isNullAt(i)) 0L else r.getString(i).length.toLong)
            case (_, i) => 8L + 4L * (if (r.isNullAt(i)) 0L else r.getSeq[Any](i).size.toLong)
          }.sum + 8L
        }.sum
        (t, rows.length.toLong, bytes)
      }.toSeq.sortBy(_._1)
      val scanT = Shuffle.scanTargetBytes; val shufT = Shuffle.shuffleTargetBytes
      val want = stats.map { case (t, n, b) =>
        val tasks = (b + scanT - 1) / scanT
        (t, n, b, tasks, (b + shufT - 1) / shufT, (n + tasks - 1) / tasks)
      }
      val got = SparkEntry.queries("q_part_plan")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got === want, s"partition plan recount diverges at $sf")
      // at small SF every table fits one task — the honest pass state;
      // the multi-task branch is fixture-driven below
      assert(got.forall(r => r._4 == 1L && r._5 == 1L))
    }
  }

  test("partPlanOf fires the multi-task branch under tight byte targets") {
    import spark.implicits._
    val stats = Seq(("wide", 1000L, 2500L), ("tiny", 10L, 40L)).toDF("t", "n", "b")
    val got = Shuffle.partPlanOf(stats, scanTarget = 1000L, shuffleTarget = 300L)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // wide: ceil(2500/1000)=3 scan tasks, ceil(2500/300)=9 shuffle parts,
    // ceil(1000/3)=334 rows/task; tiny: 1/1/10
    assert(got.toSeq === Seq(("tiny", 1L, 1L, 10L), ("wide", 3L, 9L, 334L)))
  }

  test("dictionary pass prunes the scan to the audited key column") {
    val plan = Shuffle.keyCounts(
      Tables(spark, "/root/testdata/sf0.001", "events"), "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<user_id"),
      s"events scan must read only user_id:\n$plan")
  }

  test("q_salted_join equals the plain join row-for-row and actually spreads the hot key") {
    // X161's two claims. (1) Semantics: the salted (k, salt) fan-out +
    // two-stage re-collapse computes EXACTLY the plain shuffle join's
    // aggregate (the oracle proves this cross-engine; here the
    // in-engine unsalted twin pins it row-for-row at two SFs, hot key
    // included). (2) Mechanics: the hot key's ~80% row share lands on
    // ONE reducer unsalted, but spreads across the salt space salted —
    // measured on the real shuffled partitions of both join outputs.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val salted = SparkEntry.queries("q_salted_join")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val plain = graft.operators.Shuffle.plainJoin(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(salted.nonEmpty && salted.toSeq === plain.toSeq,
        s"salted join diverged from the plain join at $dir")
      // the fixture IS hot: key 0 holds ~80% of events
      val n = salted.map(_._3).sum
      val hot = salted.find(_._1 == 0L).map(_._3).getOrElse(0L)
      assert(hot * 10 >= n * 7, s"hot-key fixture lost its skew at $dir: $hot of $n")
    }
    // partition spread, measured where it matters — on the join output
    // BEFORE any aggregate collapses it. The fixture's 4 shuffle
    // partitions + AQE coalescing would mask the spread, so pin the
    // production shape (32 partitions, no runtime re-plan) and restore.
    val dir = "/root/testdata/sf0.01"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      def hotSpread(joined: org.apache.spark.sql.DataFrame): Long = joined
        .filter(col("k") === 0L)
        .select(spark_partition_id().as("p"))
        .groupBy("p").count()
        .count() // = number of partitions carrying hot-key rows
      val facts = Tables(spark, dir, "events").select(
        when(col("user_id") % 10 < 8, lit(0L)).otherwise(col("user_id") % 97).as("k"),
        (col("event_id") % graft.operators.Shuffle.saltFactor).as("salt"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val dimPlain = graft.operators.Shuffle.saltDim(spark)
      val dimSalted = spark.range(97L * graft.operators.Shuffle.saltFactor).select(
        expr("id % 97").as("k"), expr("id DIV 97").as("salt"), lit(1L).as("w"))
      val unsaltedParts = hotSpread(
        facts.hint("merge").join(dimPlain.hint("merge"), Seq("k")))
      val saltedParts = hotSpread(
        facts.hint("merge").join(dimSalted.hint("merge"), Seq("k", "salt")))
      assert(unsaltedParts === 1L,
        s"unsalted hot key should land on exactly one reducer, got $unsaltedParts")
      assert(saltedParts >= graft.operators.Shuffle.saltFactor / 2,
        s"salting spread the hot key over only $saltedParts partitions")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("q_join_card: sequential recount at two SFs; a zipf dictionary breaks the uniform estimate") {
    // X165's two claims. (1) The dictionary formula IS the join size:
    // recount sum(cA(k)*cB(k)) + the uniform estimate sequentially
    // from the raw key columns. (2) The uniform assumption is only as
    // good as the distribution: a planted zipf dictionary (driven
    // through the SAME joinCardRow) must read err_ratio < 1 (uniform
    // underestimates a skewed self-join) while blowup reads the true
    // fan-out.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("q_join_card")(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getDouble(8), r.getDouble(9)))).toMap
      for ((nm, lt, lk, rt, rk) <- graft.operators.Shuffle.joinCardPairs) {
        val lKeys = Tables(spark, dir, lt).select(col(lk).cast("string"))
          .collect().map(_.getString(0))
        val rKeys = Tables(spark, dir, rt).select(col(rk).cast("string"))
          .collect().map(_.getString(0))
        val cl = lKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val cr = rKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val shared = cl.keySet & cr.keySet
        val exact = shared.toSeq.map(k => cl(k) * cr(k)).sum
        val uniform = lKeys.length.toLong * rKeys.length.toLong /
          math.max(cl.size, cr.size).toLong
        val err = if (exact == 0) 0.0 else ((20000L * uniform + exact) / (2L * exact)) / 10000.0
        val g = math.max(lKeys.length, rKeys.length).toLong
        val blow = ((20000L * exact + g) / (2L * g)) / 10000.0
        assert(got(nm) === ((lKeys.length.toLong, rKeys.length.toLong, cl.size.toLong,
          cr.size.toLong, shared.size.toLong, exact, uniform, err, blow)),
          s"$nm recount diverges at $dir")
      }
      // the planted fan-out row is live
      assert(got("documents-self-source")._9 > 1.0,
        s"self-join blowup vacuous at $dir")
    }
    // skew fixture: zipf-ish counts 64,32,16,8,4,2,1,1 on both sides
    val zipf = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L).zipWithIndex
      .map { case (c, i) => (s"k$i", c) }
    val L = zipf.toDF("k", "cl")
    val R = zipf.toDF("k", "cr")
    val row = graft.operators.Shuffle.joinCardRow("zipf", L, R).head()
    val n = zipf.map(_._2).sum
    val exact = zipf.map(c => c._2 * c._2).sum
    assert(row.getLong(6) === exact)
    assert(row.getLong(7) === n * n / 8)
    assert(row.getDouble(8) < 1.0,
      s"uniform estimate should UNDERestimate the zipf self-join, got ${row.getDouble(8)}")
  }

  test("X165 joinCardRowSelf == joinCardRow on the same dictionary (r21 self-pair fast path)") {
    // The declared documents-self-source row now takes the one-
    // dictionary aggregate; pin it row-for-row against the generic
    // two-dictionary outer-join path on a zipf dictionary (non-trivial
    // counts so exact_d = Σc² exercises the DECIMAL product). The NULL
    // key is a group of its own in the dictionary: the outer join (and
    // the oracle's JOIN … USING) never matches it, so it counts on both
    // sides but not in shared_keys or exact_d.
    import spark.implicits._
    val zipf = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L).zipWithIndex
      .map { case (c, i) => (s"k$i", c) } :+ ((null: String) -> 3L)
    val self = graft.operators.Shuffle.joinCardRowSelf("z", zipf.toDF("k", "cl")).head()
    val generic = graft.operators.Shuffle.joinCardRow(
      "z", zipf.toDF("k", "cl"), zipf.toDF("k", "cr")).head()
    assert(self === generic)
  }

  test("X165 joinCardRow saturates (never NULLs) when the uniform quotient overflows BIGINT") {
    // r19 ADVICE: Spark's IntegralDivide returns BIGINT and NULLs a
    // quotient above Long.MaxValue (non-ANSI), while the DuckDB twin's
    // HUGEINT // + LEAST clamps — the product is now pre-clamped at
    // MAX*greatest(keys) so min(prod, MAX*gk) DIV gk ==
    // min(prod DIV gk, MAX) on BOTH engines. Drive the branch: one
    // shared key with 4e9 rows per side → exact = uniform = 1.6e19 >
    // Long.MaxValue; every output column must saturate, none may NULL.
    import spark.implicits._
    val big = 4000000000L
    val L = Seq(("hot", big)).toDF("k", "cl")
    val R = Seq(("hot", big)).toDF("k", "cr")
    val row = graft.operators.Shuffle.joinCardRow("overflow", L, R).head()
    assert(!(2 to 9).exists(row.isNullAt), s"saturating columns must not NULL: $row")
    assert(row.getLong(6) === Long.MaxValue, "exact_rows saturates")
    assert(row.getLong(7) === Long.MaxValue, "uniform_est saturates (pre-clamped DIV)")
    val exact = BigInt(big) * BigInt(big)
    val expErr = ((BigInt(20000) * BigInt(Long.MaxValue) + exact) /
      (BigInt(2) * exact)).toLong / 10000.0
    assert(row.getDouble(8) === expErr, "err_ratio uses the clamped inner quotient")
    val expBlow = ((BigInt(20000) * exact + BigInt(big)) /
      (BigInt(2) * BigInt(big))).toLong / 10000.0
    assert(row.getDouble(9) === expBlow)
  }
}
