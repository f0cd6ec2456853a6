package graft

import org.scalatest.funsuite.AnyFunSuite

/** Extension operators with contracts beyond the DuckDB oracle —
  * currently X29's scale companion: the range-partitioned global
  * ranking must reproduce the window-ranked Spearman bit-for-bit.
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("sq4 equals BigDecimal HALF_UP at 4 dp: signs, ties, zero den, DECIMAL(38,0), ANSI on and off") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val e33 = BigInt(10).pow(33)
    val tie28 = 5 * BigInt(10).pow(28)
    val cases = Seq[(BigInt, BigInt)](
      (0, 1), (1, 3), (2, 3), (-1, 3), (-2, 3), (1, 8), (7, 7),
      (1, 20000), (-1, 20000), (3, 60000), (-3, 60000), (-7, 14), (49999, 1000000000),
      (5, 0), (-5, 0), (0, 0),
      (e33 - 1, 3 * e33 + 7), (e33 + tie28, e33), (-(e33 + tie28), e33),
      (4 * e33, 4 * e33 - 1), (-(4 * e33), 3 * e33))
    def halfUp4(n: BigInt, d: BigInt): Long =
      if (d == 0) 0L
      else new java.math.BigDecimal(n.bigInteger)
        .divide(new java.math.BigDecimal(d.bigInteger), 4, java.math.RoundingMode.HALF_UP)
        .movePointRight(4).longValueExact
    val want = cases.map { case (n, d) => halfUp4(n, d) }
    def run(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.repartition(2)
        .select(col("i"), expr(graft.operators.Extensions.sq4("num", "den")).as("q"))
        .orderBy("i").select("q").as[Long].collect().toSeq
    val dec = cases.zipWithIndex.map { case ((n, d), i) => (i, n.toString, d.toString) }
      .toDF("i", "n", "d")
      .select(col("i"), col("n").cast("decimal(38,0)").as("num"),
        col("d").cast("decimal(38,0)").as("den"))
    val longIdx = cases.indices.filter { i =>
      cases(i)._1.isValidLong && cases(i)._2.isValidLong && (cases(i)._1 * 20000).isValidLong
    }
    val big = longIdx.map(i => (i, cases(i)._1.toLong, cases(i)._2.toLong)).toDF("i", "num", "den")
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      assert(run(dec) === want, s"DECIMAL(38,0) operands, ansi=$ansi")
      assert(run(big) === longIdx.map(want), s"BIGINT operands, ansi=$ansi")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("scalable rank correlation == declared window form, at two SFs") {
    // ranks are exact integers in both forms, so equality is exact —
    // any boundary mistake in the offset arithmetic (off-by-one at a
    // range-partition edge, a group straddling partitions) shifts a
    // rank and breaks sum_d2 immediately
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val declared = SparkEntry.queries("q_rank_corr")(spark, dir).collect().toSeq
      val scalable = graft.operators.Extensions.rankCorrScalable(spark, dir).collect().toSeq
      assert(scalable === declared, s"scalable form diverged at $dir")
    }
  }

  test("the scalable form never sorts a whole event type in one task") {
    val plan = graft.operators.Extensions
      .rankCorrScalable(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    // the corpus-sized sorts run inside range partitions, and every
    // local-rank window partitions on (__pid, event_type) — the only
    // event_type-keyed exchanges left feed the tiny counts/offsets
    // aggregate and the final ≤|types|-row result
    assert(plan.contains("rangepartitioning"), plan.take(1500))
    assert(!plan.contains("Exchange SinglePartition"), "driver-sized exchange leaked in")
    val localRankWindows = plan.linesIterator.filter(l =>
      l.contains("row_number()") && l.contains("windowspecdefinition")).toSeq
    assert(localRankWindows.nonEmpty)
    localRankWindows.foreach { l =>
      assert(l.contains("__pid"), s"a rank window lost its partition-id key:\n$l")
    }
  }

  test("q_time_drift equals a sequential driver-side two-sample KS recount per type") {
    // Independent path through the shared-grid argument: the operator
    // evaluates the ECDF difference only at the (type, bin) matrix's
    // grid points; this recount sweeps the merged raw samples the
    // textbook way (after the same 0.1 binning — the statistic is
    // DEFINED on the binned histograms) with exact integers.
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val evs = graft.Tables(spark, dir, "events")
        .select(col("event_type"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"),
          col("value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val mid = (evs.map(_._2).min + evs.map(_._2).max) / 2
      val expected = evs.groupBy(_._1).toSeq.flatMap { case (tp, rows) =>
        val early = rows.filter(_._2 <= mid).map(e => math.floor(e._3 * 10).toLong).sorted
        val late = rows.filter(_._2 > mid).map(e => math.floor(e._3 * 10).toLong).sorted
        val (n0, n1) = (early.length.toLong, late.length.toLong)
        if (n0 == 0 || n1 == 0) None
        else {
          def cumLe(xs: Array[Long], v: Long): Long = xs.count(_ <= v).toLong
          var ksNum = BigInt(0)
          (early ++ late).distinct.foreach { v =>
            val d = (BigInt(cumLe(early, v)) * n1 - BigInt(cumLe(late, v)) * n0).abs
            if (d > ksNum) ksNum = d
          }
          val den = BigInt(n0) * n1
          Some((tp, n0, n1, ((ksNum * 20000 + den) / (den * 2)).toLong / 10000.0))
        }
      }.sortBy(_._1)
      val got = SparkEntry.queries("q_time_drift")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got === expected, s"time-drift KS diverges from the sequential recount at $dir")
      assert(got.nonEmpty && got.forall { case (_, _, _, ks) => ks >= 0.0 && ks <= 1.0 })
    }
  }

  test("q_source_quantiles equals a driver sort-and-pick recount at both SFs") {
    // X85's rank rules replayed: per source, sort (n_chars, doc_id),
    // pick ranks (n+1) div 2 and (9n+9) div 10. Also the order-
    // statistic sanity median <= p90, and at least one source where
    // they differ (tiny-n collapse would make the pin near-vacuous).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Tables(spark, dir, "documents").select("source", "n_chars", "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val expected = rows.groupBy(_._1).map { case (s0, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
        val n = sorted.length
        s0 -> (n.toLong, sorted(((n + 1) / 2).toInt - 1), sorted(((9 * n + 9) / 10).toInt - 1))
      }
      val got = SparkEntry.queries("q_source_quantiles")(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got === expected, s"source-quantile recount diverges at $dir")
      got.values.foreach { case (_, med, p90) => assert(med <= p90, "median above p90") }
      assert(got.values.exists { case (_, med, p90) => med < p90 },
        s"median == p90 everywhere at $dir — near-vacuous pin")
    }
  }

  test("q_rate_anomaly: sequential trailing-baseline recount; both alarm branches live") {
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val days = Tables(spark, dir, "events")
        .select(col("event_type"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").as("day"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expected = days.groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .groupBy(_._1._1).toSeq.flatMap { case (et, cells) =>
          val series = cells.map { case ((_, d), c) => (d, c) }.sortBy(_._1)
          series.zipWithIndex.flatMap { case ((d, c), i) =>
            val prior = series.slice(math.max(0, i - 7), i).map(_._2)
            val n = prior.length.toLong
            if (n < 3) None
            else {
              val sSum = prior.sum; val q = prior.map(x => x * x).sum
              val num = n * c - sSum; val varn = n * q - sSum * sSum
              val z = if (varn == 0) 0.0
                else r4(num.toDouble / math.sqrt(varn.toDouble)) + 0.0
              val alarm =
                if (varn == 0) { if (num != 0) 1L else 0L }
                else if (BigInt(num) * num >= BigInt(4) * varn) 1L else 0L
              Some((et, d, c, n, z, alarm))
            }
          }
        }.sortBy(r => (r._1, r._2))
      val got = SparkEntry.queries("q_rate_anomaly")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5)))
      assert(got.toSeq === expected, s"rate-anomaly recount diverges at $dir")
      // the alarm must fire somewhere and stay quiet somewhere (a
      // threshold that always or never fires is a dead monitor)
      assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
        s"alarm branches degenerate at $dir")
      // the integer alarm is exactly the |z| >= 2 decision where z is finite
      got.filter(r => r._5 != 0.0 || r._6 == 0L).foreach { r =>
        assert((math.abs(r._5) >= 2.0) == (r._6 == 1L),
          s"integer alarm disagrees with z at $dir: $r")
      }
    }
  }

  test("q_rate_anomaly windows only the (type, day) matrix — no join, one collapse exchange") {
    val qe = SparkEntry.queries("q_rate_anomaly")(spark, "/root/testdata/sf0.01")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Join"), s"rate-anomaly plans a join:\n$plan")
    import org.apache.spark.sql.catalyst.plans.logical
    val windows = qe.optimizedPlan.collect { case w: logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"rate-anomaly has a corpus-wide single-partition window:\n$plan")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: logical.Aggregate => a }.nonEmpty,
        s"the trailing window does not sit over the (type, day) collapse:\n$w")
    }
  }

  test("q_win_dist: sequential distribution recount; the three windows share one shuffle") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Tables(spark, dir, "customer")
        .select(col("c_nationkey").cast("long"), col("c_custkey").cast("long"),
          col("c_acctbal").cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (nat, cs) =>
        val n = cs.length.toLong
        val byBalKey = cs.sortBy(t => (t._3, t._2))
        // SQL-standard NTILE under the total order: first (n mod 4)
        // buckets take ceil(n/4) rows
        val base = n / 4
        val extra = n % 4
        val quart = byBalKey.zipWithIndex.map { case (c, i) =>
          val cut = (b: Long) => b * base + math.min(b, extra)
          c._2 -> (1L to 4L).find(b => i < cut(b)).get
        }.toMap
        cs.map { case (_, ck, bal) =>
          val rnk = cs.count(_._3 < bal).toLong + 1
          val cdNum = cs.count(_._3 <= bal).toLong
          val pr = if (n == 1) 0.0
            else ((20000 * (rnk - 1) + (n - 1)) / (2 * (n - 1))).toDouble / 10000.0
          val cd = ((20000 * cdNum + n) / (2 * n)).toDouble / 10000.0
          (nat, ck, BigDecimal(bal).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            pr, cd, quart(ck))
        }
      }.sortBy(t => (t._1, t._2))
      val got = SparkEntry.queries("q_win_dist")(spark, dir)
        .select(col("c_nationkey").cast("long"), col("c_custkey").cast("long"),
          col("c_acctbal"), col("pct_rank"), col("cume"), col("quartile"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5)))
      assert(got.toSeq === expected.toSeq, s"distribution recount diverges at $dir")
    }
    // all three window specs share the c_nationkey partitioning: the
    // plan must carry exactly ONE hash exchange (the final ORDER BY
    // adds a range exchange, not a hash one)
    val plan = SparkEntry.queries("q_win_dist")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"q_win_dist shuffles $hashEx times, expected 1:\n$plan")
  }

  test("q_ts_features: sequential recount; sparse fixture exercises zero-fill calendar lags") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 1. real corpus, both SFs: recount the dense grid + lags +
    //    trailing mean off the raw (type, day) counts
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val counts = Tables(spark, dir, "events")
        .select(col("event_type"),
          org.apache.spark.sql.functions.expr(
            "CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").as("day"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val d0 = counts.keys.map(_._2).min
      val d1 = counts.keys.map(_._2).max
      val types = counts.keys.map(_._1).toSeq.distinct.sorted
      def c(t: String, d: Long): Long = counts.getOrElse((t, d), 0L)
      val expected = for {
        t <- types; d <- (d0 + 7) to d1
      } yield {
        val s7 = ((d - 7) to (d - 1)).map(c(t, _)).sum
        (t, d, d % 7, c(t, d), c(t, d - 1), c(t, d - 7),
          ((20000 * s7 + 7) / 14) / 10000.0)
      }
      val got = SparkEntry.queries("q_ts_features")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6)))
      assert(got.toSeq === expected, s"feature recount diverges at $dir")
    }
    // 2. the silent-day branch, unreachable on the dense corpus:
    //    a sparse synthetic matrix through the SAME machinery —
    //    calendar lags must read ZERO for silent days, never the
    //    previous observed row (the sparse-window mistake)
    val sparse = Seq(("a", 100L, 5L), ("a", 103L, 7L), ("a", 110L, 2L))
      .toDF("event_type", "day", "c")
    val f = graft.operators.Extensions.tsFeaturesOf(sparse).collect()
      .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    assert(f.keySet == (107L to 110L).toSet, s"warm-up trim wrong: ${f.keySet}")
    assert(f(110L)._1 == 2L, "count wrong on an active day")
    assert(f(110L)._2 == 0L, "lag1 of a silent yesterday must be 0, not the last observed row")
    assert(f(110L)._3 == 7L, "lag7 must read the calendar day exactly")
    assert(f(107L) == ((0L, 0L, 5L, ((20000L * 12 + 7) / 14) / 10000.0)),
      s"silent-day feature row wrong: ${f(107L)}")
  }

  test("q_manifest: MessageDigest recount of every checksum; order/partition invariant; sensitive") {
    import org.apache.spark.sql.functions._
    def md60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // independent truth: java MessageDigest over the same canonical
      // strings, folded by XOR driver-side
      val docH = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text")).collect()
        .map(r => md60(s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}|${r.getString(3)}"))
      val embH = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label")).collect()
        .map { r =>
          val snapped = r.getSeq[Float](1)
            .map(x => math.round(x.toDouble * 1e6)).mkString(",")
          md60(s"${r.getLong(0)}|$snapped|${r.getInt(2)}")
        }
      val evH = Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")), col("value")).collect()
        .map { r =>
          val v6 = BigDecimal(r.getDouble(4) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          md60(s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getLong(3)}|$v6")
        }
      val expected = Seq(
        ("documents", docH.length.toLong, docH.length.toLong, docH.foldLeft(0L)(_ ^ _)),
        ("embeddings", embH.length.toLong, embH.length.toLong, embH.foldLeft(0L)(_ ^ _)),
        ("events", evH.length.toLong, evH.length.toLong, evH.foldLeft(0L)(_ ^ _)))
      val got = SparkEntry.queries("q_manifest")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq === expected, s"manifest recount diverges at $dir")
      // sensitivity: removing any single row flips the checksum
      // (XOR with a nonzero hash) — every row hash is nonzero here
      assert(docH.forall(_ != 0L) && embH.forall(_ != 0L) && evH.forall(_ != 0L),
        s"a zero row-hash at $dir would make the checksum row-drop-blind")
    }
    // partition/order invariance: the declared query over a violently
    // repartitioned session reads must agree (XOR is commutative; this
    // pins no order-sensitive step snuck into the fold)
    val a = SparkEntry.queries("q_manifest")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = SparkEntry.queries("q_manifest")(spark, "/root/testdata/sf0.001")
        .collect().map(_.toString).toSeq
      assert(a === b, "manifest changed under repartitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "32")
  }

  test("q_ab_test: 2x2 recounts sequentially at two SFs; the verdict fires on the live split") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val perUser = Tables(spark, dir, "events")
        .select(col("user_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).toSeq.map { case (u, es) =>
          (u % 2, if (es.count(_._2 == "purchase") >= 14) 1L else 0L)
        }
      val Seq(a, b, c, d) = Seq(
        perUser.count(x => x._1 == 0 && x._2 == 1).toLong,
        perUser.count(x => x._1 == 0 && x._2 == 0).toLong,
        perUser.count(x => x._1 == 1 && x._2 == 1).toLong,
        perUser.count(x => x._1 == 1 && x._2 == 0).toLong)
      val n = a + b + c + d
      val num = BigInt(n) * (BigInt(a) * d - BigInt(b) * c) * (BigInt(a) * d - BigInt(b) * c)
      val den = (BigInt(a) + b) * (BigInt(c) + d) * (BigInt(a) + c) * (BigInt(b) + d)
      val chi = if (den == 0) 0.0 else ((num * 20000 + den) / (den * 2)).toLong / 10000.0
      val sig = if (den != 0 && num * 10000 > den * 38415) 1L else 0L
      def r4(conv: Long, users: Long): Long = (20000L * conv + users) / (2L * users)
      val diff = math.abs(r4(a, a + b) - r4(c, c + d)) / 10000.0
      val want = Seq(
        (0L, a + b, a, r4(a, a + b) / 10000.0, diff, chi, sig),
        (1L, c + d, c, r4(c, c + d) / 10000.0, diff, chi, sig))
      val got = SparkEntry.queries("q_ab_test")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6))).toSeq
      assert(got === want, s"A/B recount diverges at $dir")
    }
    // the shipped corpus has a genuinely significant parity split at
    // sf0.01 (chi2 ~ 7.76) — the verdict must be live, not vacuous
    val sf01 = SparkEntry.queries("q_ab_test")(spark, "/root/testdata/sf0.01")
      .collect().head
    assert(sf01.getLong(6) == 1L && sf01.getDouble(5) > 3.8415)
  }

  test("abTestOf closed forms: identical rates 0 / extreme split significant / hand 2x2 exact") {
    import spark.implicits._
    def run(cells: Seq[(Long, Long)]): (Double, Long) = {
      val r = graft.operators.Extensions.abTestOf(cells.toDF("variant", "converted"))
        .collect().head
      (r.getDouble(5), r.getLong(6))
    }
    // identical rates: chi2 exactly 0, not significant
    val same = Seq.fill(10)((0L, 1L)) ++ Seq.fill(10)((0L, 0L)) ++
      Seq.fill(10)((1L, 1L)) ++ Seq.fill(10)((1L, 0L))
    assert(run(same) === ((0.0, 0L)))
    // extreme split: all of A converts, none of B
    val extreme = Seq.fill(20)((0L, 1L)) ++ Seq.fill(20)((1L, 0L))
    val (chiE, sigE) = run(extreme)
    assert(sigE == 1L && chiE === 40.0, s"extreme 2x2 should give chi2 = n = 40, got $chiE")
    // hand-computed: a=8,b=2,c=3,d=7 -> chi2 = 20*(56-6)^2/(10*10*11*9) = 5.0505
    val hand = Seq.fill(8)((0L, 1L)) ++ Seq.fill(2)((0L, 0L)) ++
      Seq.fill(3)((1L, 1L)) ++ Seq.fill(7)((1L, 0L))
    assert(run(hand) === ((5.0505, 1L)))
  }

  test("q_cuped: moment recount at two SFs; theta and reduction exact") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = Tables(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
      val pu = ev.groupBy(_._1).toSeq.map { case (u, es) =>
        (u % 2,
          es.count(e => e._2 == "purchase" && e._3 <= mid).toLong,
          es.count(e => e._2 == "purchase" && e._3 > mid).toLong)
      }
      val n = BigInt(pu.size)
      val (sx, sy) = (BigInt(pu.map(_._2).sum), BigInt(pu.map(_._3).sum))
      val sxx = pu.map(r => BigInt(r._2) * r._2).sum
      val sxy = pu.map(r => BigInt(r._2) * r._3).sum
      val syy = pu.map(r => BigInt(r._3) * r._3).sum
      val covN = n * sxy - sx * sy
      val varN = n * sxx - sx * sx
      val varyN = n * syy - sy * sy
      def sq4(num: BigInt, den: BigInt): Double =
        (if (den == 0) 0L
         else num.signum * ((num.abs * 20000 + den) / (den * 2)).toLong) / 10000.0
      val want = Seq(0L, 1L).map { v =>
        val vs = pu.filter(_._1 == v)
        val nv = BigInt(vs.size)
        val (sxv, syv) = (BigInt(vs.map(_._2).sum), BigInt(vs.map(_._3).sum))
        val meanY = ((syv * 20000 + nv) / (nv * 2)).toLong / 10000.0
        val adj = if (varN == 0) meanY
          else sq4(syv * varN * n - covN * (sxv * n - sx * nv), nv * varN * n)
        val red = if (varN == 0 || varyN == 0) 0.0
          else ((covN * covN * 20000 + varN * varyN) / (varN * varyN * 2)).toLong / 10000.0
        (v, vs.size.toLong, meanY, adj, sq4(covN, varN), red)
      }
      val got = SparkEntry.queries("q_cuped")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toSeq
      assert(got === want, s"CUPED recount diverges at $dir")
    }
  }

  test("cupedOf closed forms: y==x collapses to the grand mean; constant x is a no-op") {
    import spark.implicits._
    // y identical to x: theta = 1, every adjusted mean = grand mean of x,
    // variance reduction exactly 1
    val mirror = Seq((0L, 2L, 2L), (0L, 6L, 6L), (1L, 3L, 3L), (1L, 9L, 9L))
      .toDF("variant", "x", "y")
    val g1 = graft.operators.Extensions.cupedOf(mirror).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(g1.toSeq === Seq((0L, 5.0, 1.0, 1.0), (1L, 5.0, 1.0, 1.0)),
      s"mirror fixture must collapse both variants to the grand mean 5: ${g1.toSeq}")
    // constant covariate: var_n = 0 -> theta 0, adjustment a no-op
    val flat = Seq((0L, 4L, 2L), (0L, 4L, 6L), (1L, 4L, 3L), (1L, 4L, 9L))
      .toDF("variant", "x", "y")
    val g2 = graft.operators.Extensions.cupedOf(flat).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(g2.toSeq === Seq((0L, 4.0, 4.0, 0.0, 0.0), (1L, 6.0, 6.0, 0.0, 0.0)),
      s"constant covariate must be a no-op: ${g2.toSeq}")
  }

  test("q_qte: exact quartiles recount sequentially at two SFs; the lift matches q_ab_test") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pu = Tables(spark, dir, "events")
        .select(col("user_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).toSeq.map { case (u, es) =>
          (u % 2, u, es.count(_._2 == "purchase").toLong)
        }
      def quart(vs: Seq[(Long, Long, Long)]): (Long, Long, Long, Long) = {
        val sorted = vs.sortBy(v => (v._3, v._2)).map(_._3)
        val n = sorted.size
        (n.toLong, sorted(((n + 3) / 4) - 1), sorted(((n + 1) / 2) - 1),
          sorted(((3 * n + 3) / 4) - 1))
      }
      val q0 = quart(pu.filter(_._1 == 0)); val q1 = quart(pu.filter(_._1 == 1))
      val gap = math.abs(q1._3 - q0._3)
      val want = Seq(
        (0L, q0._1, q0._2, q0._3, q0._4, gap),
        (1L, q1._1, q1._2, q1._3, q1._4, gap))
      val got = SparkEntry.queries("q_qte")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got === want, s"QTE recount diverges at $dir")
      // quartiles are monotone within each variant by construction
      assert(got.forall(r => r._3 <= r._4 && r._4 <= r._5))
    }
  }

  test("qteOf: hand-ranked fixture gives the exact type-1 order statistics") {
    import spark.implicits._
    // variant 0: y = 1..8 -> p25 = rank 2 -> 2, p50 = rank 4 -> 4, p75 = rank 6 -> 6
    // (ceil conventions: (8+3)/4 = 2, (8+1)/2 = 4, (27)/4 = 6)
    // variant 1: y = 11..13 -> ranks 1, 2, 3 -> 11, 12, 12? no:
    //   n = 3: p25 rank (3+3)/4 = 1 -> 11; p50 rank 2 -> 12; p75 rank 3 -> 13
    val df = ((1 to 8).map(i => (0L, i.toLong, i.toLong)) ++
      Seq((1L, 21L, 11L), (1L, 22L, 12L), (1L, 23L, 13L)))
      .toDF("variant", "uid", "y")
    val got = graft.operators.Extensions.qteOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq((0L, 2L, 4L, 6L, 8L), (1L, 11L, 12L, 13L, 8L)))
  }

  test("q_srm: recounts at two SFs; the designed parity split passes clean") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val users = Tables(spark, dir, "events")
        .select(col("user_id")).distinct().collect().map(_.getLong(0))
      val cells = users.groupBy(_ % 2).toSeq.map { case (v, us) => (v, us.length.toLong) }
        .sortBy(_._1)
      val k = BigInt(cells.size); val n = BigInt(cells.map(_._2).sum)
      val num = k * cells.map(c => BigInt(c._2) * c._2).sum - n * n
      val chi = ((num * 20000 + n) / (n * 2)).toLong / 10000.0
      val alarm = if (num * 10000 > n * 108280) 1L else 0L
      val want = cells.map { case (v, nu) =>
        (v, nu, ((20000L * nu + n.toLong) / (2L * n.toLong)) / 10000.0, 0.5, chi, alarm)
      }
      val got = SparkEntry.queries("q_srm")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5))).toSeq
      assert(got === want, s"SRM recount diverges at $dir")
      // the shipped assignment IS the design: the alarm must be silent
      assert(got.forall(_._6 == 0L), "designed split must not alarm")
    }
  }

  test("srmOf: a corrupted assignment fires the 0.001-level alarm; a near-miss does not") {
    import spark.implicits._
    def run(cells: Seq[(Long, Long)]): (Double, Long) = {
      val r = graft.operators.Extensions.srmOf(cells.toDF("variant", "n_users"))
        .collect().head
      (r.getDouble(4), r.getLong(5))
    }
    // 600 vs 400: chi2 = (2*(360000+160000) - 1000000)/1000 = 40 -> alarm
    val (c1, a1) = run(Seq((0L, 600L), (1L, 400L)))
    assert(c1 === 40.0 && a1 === 1L, s"gross SRM must alarm: $c1")
    // 520 vs 480: chi2 = (2*(270400+230400) - 1000000)/1000 = 1.6 -> silent
    val (c2, a2) = run(Seq((0L, 520L), (1L, 480L)))
    assert(c2 === 1.6 && a2 === 0L, s"1.6-sigma-ish split must stay silent: $c2")
  }

  test("q_coverage: recounts sequentially at two SFs; the dense stream passes clean") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val evs = Tables(spark, dir, "events")
        .select(col("event_type"),
          org.apache.spark.sql.functions.expr("unix_micros(ts) DIV 86400000000").as("day"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val want = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
        val days = rs.map(_._2).distinct.sorted
        val span = days.last - days.head + 1
        val gap = if (days.size < 2) 0L
          else days.toSeq.sliding(2).map { case Seq(a, b) => b - a - 1 }.max
        (k, days.head, days.last, days.size.toLong, rs.size.toLong,
          ((20000L * days.size + span) / (2L * span)) / 10000.0, math.max(gap, 0L))
      }
      val got = SparkEntry.queries("q_coverage")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getLong(6))).toSeq
      assert(got === want, s"coverage recount diverges at $dir")
      assert(got.forall(r => r._6 == 1.0 && r._7 == 0L),
        "shipped stream should be dense — coverage 1.0, no gaps")
    }
  }

  test("coverageOf: holes and single-day keys through the same machinery") {
    import spark.implicits._
    // key a: days 10,11,14,20 -> span 11, active 4, coverage 0.3636, max gap 5
    // key b: single day -> span 1, coverage 1.0, gap 0
    val df = (Seq(10L, 11L, 14L, 20L).map(d => ("a", d)) :+ ("b", 7L))
      .toDF("k", "day")
    val got = graft.operators.Extensions.coverageOf(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      ("a", 10L, 20L, 4L, 0.3636, 5L),
      ("b", 7L, 7L, 1L, 1.0, 0L)), s"hole semantics wrong: ${got.toSeq}")
  }

  test("q_hll_rolling: sequential register-cube recount at two SFs; windows genuinely roll") {
    import org.apache.spark.sql.functions._
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val win = graft.operators.Extensions.hllRollingDays
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Tables(spark, dir, "events")
        .select(col("event_type"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").as("day"),
          col("user_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // daily register cube, then the trailing-window merge per day
      val daily = scala.collection.mutable.Map.empty[(String, Long, Long), Long]
      rows.foreach { case (et, day, uid) =>
        val h = h60(uid.toString)
        val j = h >>> 52
        val w = h & ((1L << 52) - 1)
        val rho = 53L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        val k = (et, day, j)
        if (rho > daily.getOrElse(k, 0L)) daily(k) = rho
      }
      val grid = rows.map(r => (r._1, r._2)).distinct.sorted
      val expected = grid.map { case (et, day) =>
        val mjs = (0L until 256L).map { j =>
          (day - (win - 1) to day).map(d => daily.getOrElse((et, d, j), 0L)).max
        }
        val s = mjs.map(mj => 1L << (53 - mj)).sum
        val v = mjs.count(_ == 0).toLong
        val estRaw = ((BigInt(2) * 718273 * 65536 * BigInt("9007199254740992") +
          BigInt(1000000) * s) / (BigInt(2000000) * s)).toLong
        val (est, branch) =
          if (estRaw <= 640 && v > 0) (math.round(256.0 * math.log(256.0 / v)), "lc")
          else (estRaw, "raw")
        val exact = rows.filter(r => r._1 == et &&
          r._2 >= day - (win - 1) && r._2 <= day).map(_._3).distinct.length.toLong
        (et, day, exact, est, (20000 * est + exact) / (2 * exact) / 10000.0, branch)
      }
      val got = SparkEntry.queries("q_hll_rolling")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getString(5)))
      assert(got.toSeq === expected, s"rolling register cube diverges at $dir")
      // the window genuinely rolls: the trailing audience grows past
      // the first day for at least one type (merge did work), and
      // every estimate sits within the sketch's band of its exact
      val byType = got.groupBy(_._1)
      assert(byType.values.exists(s => s.map(_._3).distinct.length > 1),
        s"vacuous at $dir: every trailing window has the same audience")
      got.foreach { case (et, day, exact, est, _, _) =>
        assert(math.abs(est - exact).toDouble / exact < 0.25,
          s"$et day $day estimate $est too far from exact $exact at $dir")
      }
    }
  }

  test("q_winsorize: sequential sort recount of cuts, clips and means at two SFs") {
    // X163's certificate: the dictionary-window cut selection must
    // equal the naive definition — sort each type's cents, take the
    // values at ranks ceil(n/20) and ceil(19n/20), clamp, average —
    // recounted sequentially with exact integer arithmetic, plus both
    // clip branches live (the 5%/95% construction guarantees it).
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = Tables(spark, dir, "events")
        .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val want = ev.groupBy(_._1).map { case (et, rows) =>
        val sorted = rows.map(_._2).sorted
        val n = sorted.length.toLong
        val lo = sorted(((n + 19) / 20 - 1).toInt)
        val hi = sorted(((19 * n + 19) / 20 - 1).toInt)
        val wins = sorted.map(c => math.max(lo, math.min(hi, c)))
        def mean4(xs: Seq[Long]): Double =
          ((200L * xs.sum + n) / (2L * n)) / 10000.0
        (et, n, lo, hi, sorted.count(_ < lo).toLong, sorted.count(_ > hi).toLong,
          mean4(sorted), mean4(wins))
      }.toSeq.sortBy(_._1)
      val got = SparkEntry.queries("q_winsorize")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      assert(got.toSeq === want, s"winsorize recount diverges at $dir")
      assert(got.forall(r => r._5 > 0 && r._6 > 0),
        s"a clip branch went vacuous at $dir")
      assert(got.exists(r => r._7 != r._8),
        s"winsorization changed no mean at $dir — vacuous fixture")
    }
  }

  test("X171 q_schema_drift: sequential JSON-key recount at two SFs; each day plants one new key") {
    // The drift monitor must equal a driver-side replay parsing the
    // planted props with the JVM's own string algebra (keys are the
    // literal 'k' plus the planted day-named key), and the plant must
    // keep the signal live: every day after the first introduces
    // exactly its own experiment key, day one introduces two.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val evs = Tables(spark, dir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val keyed = evs.flatMap { case (day, id) =>
        if (id % 97 == 0) Seq((day, "k"), (day, s"exp_d$day")) else Seq((day, "k"))
      }
      val firstSeen = keyed.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1).min }
      val expected = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (day, es) =>
        val dayKeys = keyed.filter(_._1 == day)
        (day, es.length.toLong, dayKeys.length.toLong,
          dayKeys.map(_._2).distinct.length.toLong,
          dayKeys.map(_._2).distinct.count(k => firstSeen(k) == day).toLong)
      }
      val got = SparkEntry.queries("q_schema_drift")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got === expected, s"schema drift diverges from the recount at $dir")
      // plant liveness: the first day introduces the stable key plus
      // its experiment key; every later day with a planted event
      // introduces exactly one new key
      assert(got.head._5 >= 2L, s"first day should introduce k + its plant at $dir")
      assert(got.tail.filter(_._4 > 1).forall(_._5 == 1L),
        s"later planted days must introduce exactly their own key at $dir")
      assert(got.tail.exists(_._5 == 1L), s"vacuous: no later day drifts at $dir")
    }
  }
}
