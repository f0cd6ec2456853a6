package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sketch-based dedup paths are judged against the complete
  * inverted-index Jaccard truth: both end in the same exact-Jaccard
  * verification, so LSH output must be a subset; recall is the quality
  * of the banding. Deterministic (fixed hash, fixed data).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.001"

  test("banded MinHash LSH: subset of exact-Jaccard truth, high recall") {
    val near = SparkEntry.queries("q_dedup_near")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.nonEmpty && mh.nonEmpty)
    assert(mh.subsetOf(near))
    assert(mh.size.toDouble >= 0.8 * near.size)
  }

  test("df cap is exact: nearPairs capped == uncapped, with df headroom") {
    // The r6 verdict's top integrity item: this pin was claimed in the
    // Dedup scaladoc before it existed. It compares the FULL pipeline
    // output (ids + shared + n_union) with the production cap against
    // maxDf = Long.MaxValue (cap disabled → pure uncapped inverted-
    // index join), at both test SFs, and asserts the corpus actually
    // leaves the cap headroom so silent drift fails here, not in prod.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sh = graft.operators.Dedup.shingles(spark, dir).persist()
      try {
        def rows(maxDf: Long) = graft.operators.Dedup.nearPairs(sh, maxDf)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        val capped = rows(graft.operators.Dedup.nearMaxDf)
        val uncapped = rows(Long.MaxValue)
        assert(capped.nonEmpty, s"vacuous pin at $dir")
        assert(capped == uncapped, s"df cap changed q_dedup_near output at $dir")
        val maxDf = sh.groupBy("shingle").count()
          .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
        assert(maxDf <= graft.operators.Dedup.nearMaxDf,
          s"corpus drift: max shingle df $maxDf exceeds cap ${graft.operators.Dedup.nearMaxDf} at $dir")
        // exercise the high-df CORRECTION JOIN (short-circuited away
        // when no shingle exceeds the cap): with an artificially tiny
        // cap some shingles go high, candidate generation narrows,
        // but every surviving pair must still carry counts identical
        // to the uncapped truth — the correction term is exact
        val tinyCap = 2L
        assert(maxDf > tinyCap, s"tiny cap does not exercise the correction branch at $dir")
        val tight = rows(tinyCap)
        val truth = uncapped.map { case (a, b, s, u) => (a, b) -> ((s, u)) }.toMap
        assert(tight.nonEmpty, s"vacuous correction-branch pin at $dir")
        tight.foreach { case (a, b, s, u) =>
          assert(truth.get((a, b)).contains((s, u)),
            s"correction join produced wrong counts for ($a,$b) at $dir")
        }
      } finally sh.unpersist()
    }
  }

  test("MinHash sketch aggregate == 8-column min() signatures, elementwise") {
    // The TypedImperativeAggregate (one-pass, map-side partial merge)
    // must be bit-identical to the declarative 8-column min() form it
    // replaced in the q_dedup_minhash / q_dedup_fuzzy candidate path.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sh = graft.operators.Dedup.shingles(spark, dir).persist()
      try {
        def sigs(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
        val sketch = sigs(graft.operators.Dedup.minhashSig(sh))
        val minCols = sigs(graft.operators.Dedup.minhashSigMinCols(sh))
        assert(sketch.nonEmpty, s"vacuous pin at $dir")
        assert(sketch === minCols, s"sketch aggregate diverged from min() path at $dir")
      } finally sh.unpersist()
    }
  }

  test("SimHash sketch aggregate == 60-column sum(when) sketch, per doc") {
    // the TypedImperativeAggregate (one int[60] buffer per doc,
    // map-side partial merge) must be bit-identical to the
    // declarative 60-column sum(when) form it replaced
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sh = graft.operators.Dedup.shingles(spark, dir).persist()
      try {
        def sims(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val sketch = sims(graft.operators.Dedup.simSketch(spark, dir))
        val sumCols = sims(graft.operators.Dedup.simSketchSumCols(sh))
        assert(sketch.nonEmpty, s"vacuous pin at $dir")
        assert(sketch === sumCols, s"simhash sketch aggregate diverged from sum(when) path at $dir")
      } finally sh.unpersist()
    }
  }

  test("planted hot shingle: the df cap keeps the collision join unskewed AND exact") {
    // The 100TB hazard argued (until now) only in comments: one viral
    // boilerplate 3-gram appearing in k docs emits k(k-1)/2 collision
    // rows, ALL hashed to the same shuffle partition — a straggler
    // task no amount of cluster makes faster. Synthetic corpus: 400
    // docs sharing one stock phrase, every 8th doc also present as a
    // drop-last-word near-dup copy.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (1L to 400L).map { i =>
      (i, s"hot stock phrase u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")
    }
    val copies = base.filter(_._1 % 8 == 0).map { case (i, t) =>
      (i + 10000L, t.split(" ").dropRight(1).mkString(" "))
    }
    val corpus = (base ++ copies).toDF("doc_id", "text")
    val sh = graft.operators.Dedup.withDocCardinality(
      corpus
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 2), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
          .as("shingle"))
        .distinct())
      .persist()
    try {
      val hotDf = sh.groupBy("shingle").count()
        .agg(max("count")).head.getLong(0)
      assert(hotDf === 450L, "planted hot shingle lost") // 400 + 50 copies

      // (1) exactness under skew: the hot shingle goes through the
      // correction join, and every near-dup pair still comes back with
      // counts identical to the uncapped truth
      def rows(maxDf: Long) = graft.operators.Dedup.nearPairs(sh, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val capped = rows(graft.operators.Dedup.nearMaxDf)
      val uncapped = rows(Long.MaxValue)
      assert(capped.nonEmpty && capped === uncapped,
        "df cap changed the result on the skewed corpus")
      assert(capped.map(p => (p._1, p._2)) === copies.map(c => (c._1 - 10000L, c._1)).toSet)

      // (2) the skew bound itself, measured per JOIN KEY: a shuffle
      // join cannot split one key across reducer tasks (AQE's skew
      // split duplicates the other side to do it, and partition-
      // coalescing makes physical partition ids non-deterministic at
      // this scale), so per-key row concentration IS the straggler
      // driver. The cap must bound it; uncapped is the positive
      // control proving the measurement sees the hazard.
      def keyShares(maxDf: Long): (Long, Long) = {
        val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        val kept = sh.join(dfreq.filter(col("df") <= maxDf).select("shingle"), "shingle")
        val perKey = kept.as("a")
          .join(kept.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.shingle")).count()
          .collect().map(_.getLong(1))
        (perKey.max, perKey.sum)
      }
      val (cappedMax, cappedTotal) = keyShares(graft.operators.Dedup.nearMaxDf)
      val (uncappedMax, uncappedTotal) = keyShares(Long.MaxValue)
      // uncapped: the hot shingle alone emits C(450,2) = 101,025 of
      // ~101,275 collision rows — one reducer does >90% of the work
      assert(uncappedMax.toDouble / uncappedTotal > 0.9,
        s"positive control broke: uncapped max-key share $uncappedMax/$uncappedTotal")
      // capped: the whole stream is linear in the corpus and no single
      // key exceeds the df-cap's hard per-posting-list row bound
      val cap = graft.operators.Dedup.nearMaxDf
      assert(cappedTotal < 2000, s"capped collision stream not linear: $cappedTotal rows")
      assert(cappedMax <= cap * (cap - 1) / 2,
        s"df cap failed to bound per-key rows: $cappedMax")
      assert(cappedMax.toDouble / cappedTotal <= 0.5,
        s"df cap failed to unskew the join: $cappedMax/$cappedTotal on one key")
    } finally sh.unpersist()
  }

  test("embed-dedup plane count is a knob: explicit default == declared output") {
    // the 2^n bucket count must GROW with corpus size (within-bucket
    // pair volume is quadratic in N/2^n) — parameterizing it keeps the
    // scaling knob from being mistaken for part of the design. Pin:
    // passing the default explicitly reproduces the declared query.
    val dir = "/root/testdata/sf0.01"
    val declared = SparkEntry.queries("q_dedup_embed")(spark, dir).collect().toSeq
    val explicitDefault = graft.operators.Dedup
      .dedupEmbed(spark, dir, graft.operators.Dedup.embedPlanesFor(
        graft.operators.Dedup.embedPlaneCount))
      .collect().toSeq
    assert(declared.size === 25)
    assert(explicitDefault === declared)
    // and a coarser layout (fewer planes) can only widen the probe:
    // it must still recover every planted pair
    val coarse = graft.operators.Dedup
      .dedupEmbed(spark, dir, graft.operators.Dedup.embedPlanesFor(8))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = declared.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(coarse))
  }

  test("synthesized near-dup pairs are all recovered by every variant") {
    val expected = (0L until 500L by 25L).map(i => (i, i + 200000L)).toSet
    def pairs(q: String) = SparkEntry.queries(q)(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(pairs("q_dedup_near")))
    assert(expected.subsetOf(pairs("q_dedup_minhash")))
    assert(expected.subsetOf(pairs("q_dedup_simhash")))
    val embedExpected = (0L until 500L by 20L).map(i => (i, i + 100000L)).toSet
    assert(embedExpected.subsetOf(pairs("q_dedup_embed")))
  }

  test("SemDeDup pairs are exactly the same-cell slice of the planted embedding truth") {
    // X36 differential pin: cell partitioning decides recall — a pair
    // is findable iff both endpoints quantize to the same cell.
    // Recompute every corpus-side planted pair's cells driver-side
    // (the X32 round-4 argmin over base and perturbed vectors) and
    // require q_semdedup's pair set to BE the same-cell slice: every
    // same-cell planted pair found, nothing else reported (the
    // isotropic corpus has no genuine >= 0.8 pairs).
    val got = SparkEntry.queries("q_semdedup")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val cents = graft.operators.Clustering.centroids(spark, sf)
      .map { case (cid, v) => cid -> v.map(_.toDouble) }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cellOf(v: Array[Double]): Long = cents.map { case (cid, c) =>
      (r4(v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum), cid)
    }.min._2
    def pert(v: Array[Double]) =
      v.zipWithIndex.map { case (x, i) => if (i == 1) x * 1.5 else x }
    val expected = vecs.keys
      .filter(id => id % 20 == 0 && id != 0L) // vec 0 is the reserved query vector, not corpus
      .filter(id => cellOf(vecs(id)) == cellOf(pert(vecs(id))))
      .map(id => (id, id + 100000L)).toSet
    assert(expected.nonEmpty, "planted truth set is empty — the pin is vacuous")
    assert(got === expected,
      s"semdedup pairs diverge from the same-cell planted slice: extra=${got -- expected} missing=${expected -- got}")
  }

  test("SemDeDup's cell count is a knob: coarser quantization still matches the driver recount") {
    // the X36 scale claim says K is operator config. Run the operator
    // at k=4 (coarser Voronoi cells) and pin it against the same
    // independent driver recount as the declared k=8 path — the knob
    // changes recall/cost, never correctness.
    val k = 4
    val got = graft.operators.Dedup.semDedup(spark, sf, k)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val cents = graft.operators.Clustering.centroids(spark, sf).take(k)
      .map { case (cid, v) => cid -> v.map(_.toDouble) }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cellOf(v: Array[Double]): Long = cents.map { case (cid, c) =>
      (r4(v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum), cid)
    }.min._2
    def pert(v: Array[Double]) =
      v.zipWithIndex.map { case (x, i) => if (i == 1) x * 1.5 else x }
    val expected = vecs.keys
      .filter(id => id % 20 == 0 && id != 0L)
      .filter(id => cellOf(vecs(id)) == cellOf(pert(vecs(id))))
      .map(id => (id, id + 100000L)).toSet
    assert(expected.nonEmpty, "k=4 planted truth set is empty — the knob pin is vacuous")
    assert(got === expected,
      s"k=$k semdedup diverges from the driver recount: extra=${got -- expected} missing=${expected -- got}")
  }

  test("chunk dedup: the boilerplate plant changes exactly the planted chunk") {
    // X28 differential pin: the corpus has real cross-doc chunk repeats
    // (its own planted near-dup docs), so the boilerplate's effect is
    // isolated by diffing a plant-on run against plant-off. Because the
    // plant prepends exactly one chunk WIDTH, every original chunk
    // boundary stays aligned — so for each planted doc the delta must
    // be exactly (+1 chunk, +1 dup) (keeper = doc 0; +1 dup, not +0,
    // for doc 0 itself which keeps the boilerplate), and every
    // non-planted doc must be byte-identical between the runs.
    def byDoc(plant: Boolean) = graft.operators.Dedup
      .dedupChunks(spark, sf, plant).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val on = byDoc(plant = true)
    val off = byDoc(plant = false)
    // a sub-chunk-width doc surfaces only when planted — and then its
    // single chunk IS the boilerplate, dropped in favor of doc 0
    assert(off.keySet.subsetOf(on.keySet))
    (on.keySet -- off.keySet).foreach { id =>
      assert(id % 7 == 0 && id > 0 && on(id) === ((1L, 1L)),
        s"doc $id appeared without being a short planted doc: ${on(id)}")
    }
    val planted = on.keys.filter(_ % 7 == 0)
    assert(planted.size > 10)
    off.keys.foreach { id =>
      val (cOn, dOn) = on(id); val (cOff, dOff) = off(id)
      if (id % 7 == 0 && id > 0)
        assert(cOn === cOff + 1 && dOn === dOff + 1, s"planted doc $id delta wrong")
      else if (id == 0L)
        assert(cOn === cOff + 1 && dOn === dOff, s"keeper doc 0 delta wrong")
      else
        assert(cOn === cOff && dOn === dOff, s"plant leaked into doc $id")
    }
    // and the dup signal is non-vacuous beyond the plant: the corpus's
    // own near-dup docs share chunks even with the plant off
    assert(off.values.map(_._2).sum > 0L)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("boilerplate strip drops exactly the planted footer, reassembles in order") {
    val dir = "/root/testdata/sf0.01"
    val ct = graft.operators.Dedup.chunkTokens
    val footer = "this content is mirrored from the upstream boilerplate navigation footer menu text"
    val rows = SparkEntry.queries("q_boilerplate_strip")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, (nChunks, nDropped, cleanSig)) =>
      val toks = (if (id % 7 == 0) footer + " " + docs(id) else docs(id)).split(" ")
      val windows = toks.grouped(ct).filter(_.length == ct).map(_.mkString(" ")).toSeq
      assert(nChunks === windows.size.toLong, s"doc $id window count")
      if (id % 7 == 0) {
        // the hot set is exactly the planted footer on this corpus —
        // organic chunk df stays under the threshold (drift fails here)
        assert(nDropped === 1L, s"doc $id dropped $nDropped chunks, expected the footer only")
        assert(cleanSig === md5Hex(windows.drop(1).mkString(" ")),
          s"doc $id reassembly not order-preserving")
      } else {
        assert(nDropped === 0L, s"organic chunk stripped from doc $id")
        assert(cleanSig === md5Hex(windows.mkString(" ")))
      }
    }
  }

  test("chunk runs == a sequential gaps-and-islands recount over the raw corpus") {
    val dir = "/root/testdata/sf0.01"
    val ct = graft.operators.Dedup.chunkTokens
    val cap = graft.operators.Dedup.boilerplateDf
    val rows = SparkEntry.queries("q_chunk_runs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty && rows.values.exists(_._1 >= 3), s"vacuous run pin: $rows")
    // independent truth: chunk every doc sequentially, cap df, walk
    // every pair's diagonals
    val docChunks = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").grouped(ct).filter(_.length == ct).map(_.mkString(" ")).toVector)
      .filter(_._2.nonEmpty).toMap
    val df = docChunks.toSeq.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.size }
    val kept = docChunks.map { case (id, cs) =>
      id -> cs.zipWithIndex.filter { case (c, _) => df(c) <= cap }
    }
    val expected = (for {
      a <- kept.keys.toSeq; b <- kept.keys.toSeq if a < b
      hits = for {
        (ca, ia) <- kept(a); (cb, ib) <- kept(b) if ca == cb
      } yield (ia, ia - ib)
      if hits.nonEmpty
    } yield {
      val runs = hits.groupBy(_._2).values.flatMap { diag =>
        val is = diag.map(_._1).sorted
        is.zipWithIndex.groupBy { case (i, r) => i - r }.values.map(_.size)
      }.toSeq
      (a, b) -> ((runs.max.toLong, runs.sum.toLong))
    }).filter(_._2._1 >= 2).toMap
    assert(rows === expected, s"distributed runs diverge from sequential recount")
  }

  test("incremental dedup == X5b pair set restricted to split-crossing pairs") {
    val dir = "/root/testdata/sf0.01"
    def pairs(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // X5b's universe with (incoming, indexed) orientation imposed:
    // both queries band identical per-doc signatures and share the
    // exact-Jaccard verify, so on the crossing subset they must agree
    // EXACTLY — a recall gap here means the directional band join
    // dropped a bucket
    val expected = pairs("q_dedup_minhash").flatMap { case (a, b, s, u) =>
      (a % 4 == 0, b % 4 == 0) match {
        case (true, false) => Some((a, b, s, u))
        case (false, true) => Some((b, a, s, u))
        case _             => None
      }
    }
    val incr = pairs("q_dedup_incr")
    assert(incr.nonEmpty, "vacuous incremental pin — no split-crossing near-dups")
    assert(incr === expected)
    incr.foreach { case (a, b, _, _) =>
      assert(a % 4 == 0 && b % 4 != 0, s"pair ($a,$b) violates the new-vs-index orientation")
    }
  }

  test("containment: planted excerpts score 1.0 and are invisible to Jaccard") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q_containment")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val byPair = rows.map(t => (t._1, t._2) -> t._6).toMap
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = docs.keys.filter(id => id % 30 == 0 && docs(id).split(" ").length >= 3).toSeq
    assert(planted.nonEmpty)
    // an excerpt's shingles are a subset of its source's, so shared ==
    // |S(excerpt)| and containment is exactly 1.0
    planted.foreach { id =>
      assert(byPair.get((id, id + 400000)).contains(1.0),
        s"excerpt of doc $id not fully contained: ${byPair.get((id, id + 400000))}")
    }
    // the class this operator exists for: contained pairs BELOW the
    // near-dup Jaccard cut (J < 0.6) — invisible to X5a/b/c/d
    assert(rows.exists { case (_, _, s, na, nb, c) =>
      c == 1.0 && 10 * s < 6 * (na + nb - s)
    }, "no contained-but-not-near-dup pair — the plant is vacuous")
    // every emitted row satisfies the declared cut
    rows.foreach { case (a, b, s, na, nb, _) =>
      assert(10 * s >= 9 * math.min(na, nb), s"pair ($a,$b) violates the containment cut")
    }
  }

  test("CDC chunking re-synchronizes after a prepend; the fixed grid does not") {
    // X66's reason to exist: prepend two tokens to every document and
    // re-chunk. Content-defined boundaries depend only on the trailing
    // token window, so every boundary past the edit survives and with
    // it every chunk not overlapping the edit; the X28 fixed 12-token
    // grid shifts wholesale. Survival = |chunks(orig) ∩ chunks(shifted)|
    // / |chunks(orig)|, averaged over the corpus.
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val shifted = docs.select(col("doc_id"), concat(lit("prepended edit "), col("text")).as("text"))
    def cdcSets(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.cdcChunkStream(d)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def fixedSets(d: org.apache.spark.sql.DataFrame) = {
      val ct = 12
      d.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= ct)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), (size(col("toks")) / ct).cast("int") - 1),
          i => md5(array_join(slice(col("toks"), i * ct + 1, lit(ct)), " ")))).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }
    def survival(orig: Map[Long, Set[String]], shift: Map[Long, Set[String]]): Double = {
      val per = orig.collect { case (id, cs) if cs.nonEmpty =>
        (cs & shift.getOrElse(id, Set.empty)).size.toDouble / cs.size
      }
      per.sum / per.size
    }
    val cdcS = survival(cdcSets(docs), cdcSets(shifted))
    val fixS = survival(fixedSets(docs), fixedSets(shifted))
    assert(cdcS >= 0.6, f"CDC chunk survival after a 2-token prepend is only $cdcS%.2f")
    assert(fixS < 0.1, f"fixed-grid survival $fixS%.2f — the shift-fragility contrast is gone")
    info(f"2-token prepend: CDC chunk survival $cdcS%.2f, fixed 12-token grid $fixS%.2f")
  }

  test("native CDC chunker emits exactly the declarative HOF form's chunks") {
    // the native expression replaced the filter/transform/zip_with
    // composition for speed (interpreted HOF lambdas, 40x); the rule
    // must not have drifted in translation — per-doc chunk SEQUENCES
    // (with multiplicity, in order) must be identical
    val docs = Tables(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    def seqs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val native = seqs(graft.operators.Dedup.cdcChunkStream(docs))
    val declarative = seqs(graft.operators.Dedup.cdcChunkStreamDeclarative(docs))
    assert(native === declarative, "native CDC loop diverged from the declarative rule")
    assert(native.nonEmpty)
  }

  test("q_substr_dedup max_run equals a driver token-LCS recount, and no pair is missed") {
    // X68's exactness claim: max_run is the TRUE longest common token
    // substring (any alignment), certified against an O(n·m) dynamic-
    // programming recount; at sf0.001 the recount also runs over ALL
    // doc pairs to certify completeness (the df cap bit nothing).
    def lcsTokens(a: Array[String], b: Array[String]): Int = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      var best = 0
      for (i <- 1 to a.length) {
        for (j <- 1 to b.length) {
          cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
        }
        System.arraycopy(cur, 0, prev, 0, cur.length)
      }
      best
    }
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val toks = Tables(spark, dir, "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
      val got = SparkEntry.queries("q_substr_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got.nonEmpty, s"no exact shared substring found at $dir")
      got.foreach { case ((a, b), run) =>
        val truth = lcsTokens(toks(a), toks(b))
        assert(truth.toLong === run,
          s"pair ($a,$b): declared max_run $run, DP recount $truth at $dir")
      }
      if (dir.endsWith("sf0.001")) {
        val ids = toks.keys.toSeq.sorted
        val missed = for {
          ai <- ids.indices; bi <- (ai + 1) until ids.size
          a = ids(ai); b = ids(bi)
          if lcsTokens(toks(a), toks(b)) >= graft.operators.Dedup.substrMinTokens
          if !got.contains((a, b))
        } yield (a, b)
        assert(missed.isEmpty, s"pairs with a >=12-token shared run missed: $missed")
      }
      info(s"$dir: ${got.size} pairs, longest exact shared run ${got.values.max} tokens")
    }
  }

  test("q_dup_fraction equals a sequential coverage-array recount and rounds in integer space") {
    // X69's exactness claim: dup_tokens is the interval UNION of all
    // cross-doc-shared n-gram windows — certified against a brute
    // boolean coverage array per doc (mark every covered position,
    // count), with the df-band [2, substrMaxDf] applied identically.
    val n = graft.operators.Dedup.substrGramN
    val maxDf = graft.operators.Dedup.substrMaxDf
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val toks = Tables(spark, dir, "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
      val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      for ((id, w) <- toks if w.length >= n; i <- 0 to w.length - n) {
        val g = w.slice(i, i + n).mkString(" ")
        gramDocs.getOrElseUpdate(g, scala.collection.mutable.Set.empty) += id
      }
      val shared = gramDocs.collect {
        case (g, ds) if ds.size >= 2 && ds.size <= maxDf => g
      }.toSet
      val expected: Map[Long, (Long, Long, Double)] = toks.flatMap { case (id, w) =>
        if (w.length < n) None
        else {
          val cov = new Array[Boolean](w.length)
          for (i <- 0 to w.length - n if shared(w.slice(i, i + n).mkString(" ")); j <- i until i + n)
            cov(j) = true
          val dup = cov.count(identity).toLong
          if (dup == 0) None
          else {
            val q4 = (20000L * dup + w.length) / (2L * w.length)
            Some(id -> (w.length.toLong, dup, q4 / 10000.0))
          }
        }
      }
      val got = SparkEntry.queries("q_dup_fraction")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(got === expected, s"dup-fraction recount diverges at $dir")
      assert(got.nonEmpty && got.values.exists(_._3 > 0), s"vacuous dup-fraction pin at $dir")
      info(s"$dir: ${got.size} docs carry shared spans, " +
        f"max dup_frac ${got.values.map(_._3).max}%.4f")
    }
  }

  test("q_cdc_chunks is non-vacuous at both SFs and counts are internally consistent") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("q_cdc_chunks")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.nonEmpty, s"no cross-doc shared CDC chunk at $dir — the plant is vacuous")
      rows.foreach { case (h, nDocs, nOcc, _) =>
        assert(nDocs >= 2 && nOcc >= nDocs, s"chunk $h: n_docs=$nDocs n_occ=$nOcc")
      }
    }
  }

  test("q_source_overlap: declared matches a distinct-set recount; estimate tracks exact Jaccard") {
    // X83's two claims. (1) Mergeability, operationally: the declared
    // n_match comes from ONE aggregate over the raw (duplicated)
    // shingle stream; the recount builds each source's DISTINCT
    // shingle set and hashes that — exact equality means min-merge
    // over duplicates ≡ the set signature, which is the whole 100 TB
    // argument. (2) Estimate quality vs the exact pairwise Jaccard
    // the sketch replaces (deterministic — fixed hash family).
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32s(x: String): Long = {
      md.reset()
      val d = md.digest(x.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val rows = Tables(spark, dir, "documents").select("source", "text").collect()
      val srcSets = rows.groupBy(_.getString(0)).map { case (s0, rs) =>
        s0 -> rs.flatMap(r => shingles(r.getString(1))).toSet
      }
      def sig(set: Set[String]): IndexedSeq[Long] = {
        val bases = set.toSeq.map(sh => h32s(sh) % 2147483648L)
        (0 until 64).map(i =>
          bases.map(b => (b * graft.operators.Dedup.soA(i)
            + graft.operators.Dedup.soB(i)) % 2147483647L).min)
      }
      val sigs = srcSets.map { case (s0, set) => s0 -> sig(set) }
      val pairs = srcSets.keys.toSeq.sorted
      val expected = (for {
        ai <- pairs.indices; bi <- (ai + 1) until pairs.size
        a = pairs(ai); b = pairs(bi)
      } yield {
        val m = (0 until 64).count(i => sigs(a)(i) == sigs(b)(i)).toLong
        (a, b) -> (m, (20000 * m + 64) / 128 / 10000.0)
      }).toMap
      val got = SparkEntry.queries("q_source_overlap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got === expected, s"source-overlap signature recount diverges at $dir")
      // estimate quality vs exact Jaccard on the same distinct sets
      val errs = got.map { case ((a, b), (_, est)) =>
        val inter = srcSets(a).intersect(srcSets(b)).size.toDouble
        val uni = srcSets(a).union(srcSets(b)).size.toDouble
        math.abs(est - (if (uni == 0) 0.0 else inter / uni))
      }
      assert(errs.sum / errs.size < 0.08,
        f"mean ǀest − exactǀ ${errs.sum / errs.size}%.4f exceeds 0.08 at $dir")
      assert(errs.max < 0.25, f"worst pair error ${errs.max}%.4f exceeds 0.25 at $dir")
      info(f"$dir: ${got.size} pairs, mean abs err ${errs.sum / errs.size}%.4f, " +
        f"max ${errs.max}%.4f (k=64 σ ≤ 0.063)")
    }
  }

  test("q_winnow: sequential recount, the w+k-1 guarantee vs X68 pairs, and density") {
    // X78's three claims, certified independently of both engines:
    // (1) the declared shared-fingerprint index equals a plain-Scala
    //     winnowing recount (rightmost-min selection, h32 hashes);
    // (2) the Schleimer guarantee — every X68 pair shares a verbatim
    //     run >= substrMinTokens (12) >= w+k-1 (11), so their selected
    //     fingerprint SETS must intersect;
    // (3) selection is actually sparse: expected density 2/(w+1) = 0.4,
    //     so selected occurrences stay under 60% of the gram stream.
    val k = graft.operators.Dedup.winnowK
    val w = graft.operators.Dedup.winnowW
    assert(graft.operators.Dedup.substrMinTokens >= w + k - 1,
      "X68 threshold below the winnowing guarantee span — certificate (2) would be vacuous")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(gram: String): Long = {
      md.reset()
      val d = md.digest(gram.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def selectFingerprints(toks: Array[String]): Seq[(Int, Long)] = {
      if (toks.length < k + w - 1) return Nil
      val hs = (0 to toks.length - k).map(i => h32(toks.slice(i, i + k).mkString(" ")))
      val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
      for (j <- 0 to hs.length - w) {
        val win = hs.slice(j, j + w)
        val m = win.min
        sel += j + win.lastIndexOf(m) // rightmost minimum
      }
      sel.toSeq.map(p => p -> hs(p))
    }
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val toks = Tables(spark, dir, "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
      val perDoc = toks.map { case (id, ws) => id -> selectFingerprints(ws) }
      val byHash = perDoc.toSeq
        .flatMap { case (id, fps) => fps.map { case (_, h) => (h, id) } }
        .groupBy(_._1)
      val expected = byHash.collect {
        case (h, occ) if occ.map(_._2).distinct.size >= 2 =>
          h -> (occ.map(_._2).distinct.size.toLong, occ.size.toLong, occ.map(_._2).min)
      }
      val got = SparkEntry.queries("q_winnow")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got === expected, s"winnow recount diverges at $dir")
      assert(got.nonEmpty, s"vacuous winnow index at $dir")
      // The pair certificate re-runs X68; sf0.001's 27 pairs exercise it,
      // and the X68 suite already covers sf0.01 — skip the duplicate run.
      val substrPairs = if (dir == sf) {
        val ps = SparkEntry.queries("q_substr_dedup")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(ps.nonEmpty, s"no X68 pairs at $dir — guarantee certificate vacuous")
        val fpSets = perDoc.map { case (id, fps) => id -> fps.map(_._2).toSet }
        ps.foreach { case (a, b) =>
          assert(fpSets(a).intersect(fpSets(b)).nonEmpty,
            s"pair ($a,$b) shares a >=12-token run but no winnow fingerprint at $dir — " +
              "the Schleimer guarantee is broken")
        }
        ps
      } else Array.empty[(Long, Long)]
      val nGrams = toks.valuesIterator.map(ws => math.max(0, ws.length - k + 1)).sum
      val nSel = perDoc.valuesIterator.map(_.size).sum
      assert(nSel.toDouble / nGrams < 0.6,
        f"selection density ${nSel.toDouble / nGrams}%.3f not sparse at $dir")
      info(f"$dir: ${got.size} shared fingerprints, ${substrPairs.length} X68 pairs certified, " +
        f"density ${nSel.toDouble / nGrams}%.3f (expected ~${2.0 / (w + 1)}%.3f)")
      ()
    }
  }

  test("q_dedup_sweep: recount off the verified pairs, monotone retention, strict top cut") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // ground truth off the oracle-green X5a pair table
      val pairs = SparkEntry.queries("q_dedup_near")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val cuts = graft.operators.Dedup.sweepCuts
      val npBase = pairs.count(p => 100 * p._3 >= cuts.head * p._4).toLong
      val expected = cuts.map { t =>
        val kept = pairs.filter(p => 100 * p._3 >= t * p._4)
        val docs = kept.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
        (t, kept.length.toLong, docs,
          (20000 * kept.length + npBase) / (2 * npBase) / 10000.0)
      }
      val got = SparkEntry.queries("q_dedup_sweep")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === expected, s"sweep recount diverges at $dir")
      // structural contract: baseline retention 1.0, counts monotone
      // non-increasing in the cut, and the strictest cut genuinely
      // binds on this corpus (the sweep is not a constant table)
      assert(got.head._4 == 1.0, s"baseline retention != 1 at $dir")
      assert(got.sliding(2).forall(w => w(1)._2 <= w(0)._2),
        s"pair counts not monotone at $dir")
      assert(got.last._2 < got.head._2,
        s"strictest cut binds nothing at $dir — sweep vacuous")
    }
  }

  test("q_lsh_recall: declared audit == sequential recount; the 0.6-0.7 blind zone misses pairs as the model predicts") {
    // X150 certified on a planted mid-J corpus: 30 pairs at J = 45/71
    // (bucket 6 — the banding model promises only ~87% recall there,
    // 1-(1-J^2)^4 = 0.8719, so real misses are expected)
    // and 10 pairs at J = 50/66 (bucket 7), each pair on its own
    // vocabulary so the only candidate collisions are within-pair.
    // truth/caught/buckets/model all recounted sequentially: truth
    // from exact shingle-set Jaccard, caught from the COLLECTED band
    // table (independent grouping), expected recall from the BigInt
    // 1-(1-J^2)^4 millionths model.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def doc(p: Int, shared: Int, side: Int): String = {
      // side 0: tokens c0..c59; side 1: first `shared`+2 tokens shared
      // (=> `shared` shared trigrams), rest unique to the side
      val n = 60
      (0 until n).map { i =>
        if (side == 0 || i < shared + 2) s"p${p}c$i" else s"p${p}u$i"
      }.mkString(" ")
    }
    val docs = (0 until 30).flatMap(p =>
      Seq((2L * p, doc(p, 45, 0)), (2L * p + 1, doc(p, 45, 1)))) ++
      (30 until 40).flatMap(p =>
        Seq((2L * p, doc(p, 50, 0)), (2L * p + 1, doc(p, 50, 1))))
    val df = docs.toDF("doc_id", "text")
    val shIdx = graft.operators.Dedup.shinglesOf(df)
    // sequential truth + model
    val sets = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val ids = docs.map(_._1).sorted
    val truth = (for {
      ai <- ids.indices; bi <- (ai + 1) until ids.size
      a = ids(ai); b = ids(bi)
      sh = sets(a).intersect(sets(b)).size
      un = sets(a).union(sets(b)).size
      if 10 * sh >= 6 * un
    } yield (a, b, sh.toLong, un.toLong)).toSeq
    // caught: independent band-collision grouping off the collected table
    val bands = graft.operators.Dedup.minhashBands(shIdx)
      .collect().map(r => ((r.getInt(1), r.getLong(2), r.getLong(3)), r.getLong(0)))
    val collided = bands.groupBy(_._1).values.flatMap { rows =>
      val ds = rows.map(_._2).distinct.sorted
      for (i <- ds.indices; j <- (i + 1) until ds.size) yield (ds(i), ds(j))
    }.toSet
    val byBucket = truth.groupBy { case (_, _, sh, un) => math.min(10 * sh / un, 9L) }
    val expected = byBucket.toSeq.map { case (bucket, prs) =>
      val nt = BigInt(prs.size)
      val nc = BigInt(prs.count(p => collided((p._1, p._2))))
      val sp6 = prs.map { case (_, _, sh, un) =>
        val u2 = BigInt(un) * un; val dd = u2 - BigInt(sh) * sh
        val u8 = u2.pow(4); val d4 = dd.pow(4)
        (2000000 * (u8 - d4) + u8) / (2 * u8)
      }.sum
      (bucket, nt, nc, sp6)
    }.sortBy(_._1)
    val tt = expected.map(_._2).sum; val tc = expected.map(_._3).sum
    val want = expected.map { case (b, nt, nc, sp6) =>
      (b, nt.toLong, nc.toLong,
        ((20000 * nc + nt) / (2 * nt)).toLong / 10000.0,
        ((2 * sp6 + 100 * nt) / (200 * nt)).toLong / 10000.0,
        ((20000 * tc + tt) / (2 * tt)).toLong / 10000.0)
    }
    val got = graft.operators.Dedup.lshRecallFrom(shIdx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === want, "LSH recall audit diverges from the sequential recount")
    // the blind zone is populated AND actually blind: bucket 6 exists,
    // misses some pairs, and the model's promise sits in the right
    // band (~0.63 for J = 45/71)
    val b6 = got.find(_._1 == 6L).get
    assert(b6._2 === 30L, s"bucket-6 plant wrong: $b6")
    assert(b6._3 < b6._2, s"bucket 6 caught everything — fixture not in the blind zone: $b6")
    assert(b6._5 === 0.8719, s"model column off (1-(1-(45/71)^2)^4 rounds to 0.8719): $b6")
    info(s"bucket 6: measured recall ${b6._4} vs model ${b6._5}; overall ${b6._6}")
  }

  test("q_lsh_stats: per-band stats recount from the band table; pair volume bounds the candidate set") {
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bands = graft.operators.Dedup.minhashBands(
        graft.operators.Dedup.shingles(spark, dir))
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(0)))
      val byBand = bands.groupBy(_._1).toSeq.sortBy(_._1)
      val stats = byBand.map { case (b, rows) =>
        val buckets = rows.groupBy(r => (r._2, r._3)).values.map(_.size.toLong).toSeq
        (b.toLong, buckets.size.toLong, buckets.sum, buckets.max,
          buckets.map(c => c * (c - 1) / 2).sum)
      }
      val totalPairs = stats.map(_._5).sum
      val want = stats.map { case (b, nb, nd, mx, pr) =>
        val q4 = ((BigInt(mx) * nb * 20000 + nd) / (BigInt(nd) * 2)).toLong
        (b, nb, nd, mx, pr, q4 / 10000.0, totalPairs)
      }
      val got = SparkEntry.queries("q_lsh_stats")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getLong(6))).toSeq
      assert(got === want, s"LSH stats recount diverges at $dir")
      // the audit's headline number bounds the real join: total pair
      // volume >= the DISTINCT candidate pairs the X5b build emits
      // (multi-band collisions dedupe in the candidate set)
      val candidates = bands.groupBy(r => (r._1, r._2, r._3)).values
        .flatMap { rs =>
          val ids = rs.map(_._4).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
        }.toSet.size.toLong
      assert(totalPairs >= candidates && candidates > 0,
        s"pair volume $totalPairs must bound the $candidates distinct candidates at $dir")
    }
  }

  test("cachedIndex re-arms every dropped memo persist on any access (r16 ADVICE)") {
    // The un-re-armed-persist regression class (0.7s -> 7s, twice in
    // r16): a memo HIT skips the builder thunk, so an upstream index
    // persisted only inside a downstream thunk stayed unpersisted
    // after clearCache(). The fix is structural — ANY SessionMemo
    // access re-persists EVERY memo entry of the session — so the pin
    // is: populate several entries, clearCache, touch only ONE, and
    // the OTHERS must be re-armed too (whatever builder nesting a
    // future change introduces). The cluster labels are a memo of
    // another module and must ride the same sweep.
    import graft.operators.{Clustering, Dedup}
    val none = org.apache.spark.storage.StorageLevel.NONE
    val sh = Dedup.shingleIndex(spark, sf) // entry "shingles"
    val mh = Dedup.minhashVerified(spark, sf) // entry "minhash_pairs" (reads shingles upstream)
    val cl = Clustering.clusterLabels(spark, sf) // entry "cluster_labels"
    val entries = Seq(sh, mh, cl)
    assert(entries.forall(_.storageLevel != none), "every memo entry must start persisted")
    spark.catalog.clearCache()
    assert(entries.forall(_.storageLevel == none), "clearCache must drop every entry")
    Dedup.minhashVerified(spark, sf) // memo HIT on ONE entry only — no builder runs
    assert(Seq(sh, mh).forall(_.storageLevel != none),
      "one access must re-arm EVERY memo entry of the session, not just the touched tag")
    assert(cl.storageLevel != none,
      "one index access must re-arm the cluster-labels persist too")
  }

  test("q_shingle_df: sequential ladder recount at two SFs; grid complete") {
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // sequential truth: the X5a corpus (docs + %25 first-word-stripped
      // plants), distinct 3-gram shingles per doc, df per shingle
      val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val corpus = docs ++ docs.filter(_._1 % 25 == 0)
        .map { case (id, t) => (id + 200000, t.split(" ", -1).drop(1).mkString(" ")) }
      val dfm = scala.collection.mutable.Map.empty[String, Long]
      corpus.foreach { case (_, t) =>
        val w = t.split(" ", -1)
        if (w.length >= 3)
          w.sliding(3).map(_.mkString(" ")).toSet
            .foreach((s: String) => dfm(s) = dfm.getOrElse(s, 0L) + 1)
      }
      val ladder = graft.operators.Dedup.dfLadder
      val byBucket = ladder.map { case (l, h, b) =>
        val in = dfm.values.filter(d => d >= l && d <= h)
        (b, l, in.size.toLong, in.sum, in.map(d => BigInt(d) * (d - 1) / 2).sum)
      }
      val totP = byBucket.map(_._4).sum
      val totPair = byBucket.map(_._5).sum
      val expected = byBucket.map { case (b, l, n, p, pv) =>
        val ps = (BigInt(20000) * p + totP) / (2 * totP)
        val pr = if (totPair == 0) BigInt(0) else (BigInt(20000) * pv + totPair) / (2 * totPair)
        (b, l, n, p, pv.toLong, ps.toLong / 10000.0, pr.toLong / 10000.0)
      }
      val got = SparkEntry.queries("q_shingle_df")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6)))
      assert(got.toSeq === expected, s"shingle-df ladder diverges at $dir")
      assert(got.length === 8, "the grid must state every bucket, present or absent")
      assert(got.exists(_._3 > 0), s"vacuous at $dir: empty index")
    }
  }

  test("shingleDfOf: planted skew lights every bucket; cap edge lands on the ladder") {
    import spark.implicits._
    // one shingle per df value covering each bucket's edges, incl. the
    // 65+ above-cap mass the real corpus only realizes at scale
    val dfs = Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L, 16L, 17L, 32L, 33L, 64L, 65L, 1000L)
      .zipWithIndex.map { case (d, i) => (s"s$i", d) }.toDF("shingle", "df")
    val got = graft.operators.Dedup.shingleDfOf(dfs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === graft.operators.Dedup.dfLadder.map(_._3).toSet)
    assert(got("1") === ((1L, 1L, 0L)))          // df=1: postings 1, zero pairs
    assert(got("2") === ((1L, 2L, 1L)))
    assert(got("3-4") === ((2L, 7L, 9L)))        // 3+6 pairs
    assert(got("33-64") === ((2L, 97L, 2544L)))  // 528 + 2016
    // the cap-justifying row: 65·64/2 + 1000·999/2
    assert(got("65+") === ((2L, 1065L, 2080L + 499500L)))
  }

  test("df-saturation guard: planted saturated vocab flags loudly, refuse mode throws") {
    // VERDICT r18 #1: on a df-saturated corpus (the 100x probe's
    // 30-word-vocabulary regime) capped candidate generation can miss
    // pairs that share ONLY above-cap shingles — and before this guard
    // it missed them SILENTLY. Plant the worst case: 200 docs cycling
    // a 6-word vocabulary, so the corpus has exactly 6 distinct
    // shingles, every one with df = 200 >> cap 64. Every doc pair is a
    // true near-dup (identical shingle sets, Jaccard 1.0), yet the
    // capped join generates ZERO candidates — the exact silent-miss
    // mode. The guard must turn that into (a) a df_saturated=true flag
    // on every row, (b) a sentinel row even though the pair table is
    // empty, and (c) a hard refusal in refuse mode.
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val dedup = graft.operators.Dedup
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 200L).map { i =>
      (i, (0 until 20).map(j => vocab(((i + j) % 6).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = dedup.shinglesOf(docs).persist()
    try {
      val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val flag = dedup.dfSaturationFlag(dfs, dedup.nearMaxDf)
      val r = flag.head()
      assert(r.getLong(0) === 200L, s"planted df should be 200, got ${r.getLong(0)}")
      assert(r.getBoolean(1), "planted saturated corpus not flagged")
      val pairs = dedup.nearPairs(sh, dedup.nearMaxDf)
      assert(pairs.isEmpty, "planted corpus should produce ZERO capped candidates " +
        "(else the fixture no longer exercises the silent-miss mode)")
      val sentinels = Seq(lit(0L).as("shared"), lit(0L).as("n_union"))
      val guarded = dedup
        .dfGuarded(spark, pairs, flag, "planted", dedup.nearMaxDf, sentinels)
        .collect()
      assert(guarded.length === 1, "empty-but-saturated output must carry the sentinel row")
      val s0 = guarded.head
      assert((s0.getLong(0), s0.getLong(1), s0.getLong(2), s0.getLong(3), s0.getBoolean(4)) ===
        ((-1L, -1L, 0L, 0L, true)))
      // refuse mode: construction itself must throw, with the regime in the message
      spark.conf.set("spark.graft.dedup.dfGuard", "refuse")
      try {
        val ex = intercept[graft.operators.Dedup.DfSaturationException] {
          dedup.dfGuarded(spark, pairs, flag, "planted", dedup.nearMaxDf, sentinels)
        }
        assert(ex.getMessage.contains("max shingle df 200") &&
          ex.getMessage.contains("q_shingle_df"))
        // VERDICT r19 #3: the refusal must POINT AT the cap-free path
        assert(ex.getMessage.contains("q_dedup_minhash"),
          "refuse message must name the saturated-corpus route (X5b MinHash)")
      } finally spark.conf.unset("spark.graft.dedup.dfGuard")
    } finally sh.unpersist()
  }

  test("df-saturation guard: MinHash LSH recovers the above-cap-only pairs the capped family misses") {
    // VERDICT r19 #3: the guard's contract names q_dedup_minhash as
    // the saturated-corpus route — prove the claim on the exact
    // silent-miss fixture above. All 200 planted docs share ONE
    // 6-trigram shingle set (every pair Jaccard 1.0, every shingle
    // df = 200 >> cap 64), so capped candidate generation yields ZERO
    // pairs — while banded MinHash, whose candidates come from
    // signature bands rather than posting lists, must surface ALL
    // 200·199/2 pairs with exact Jaccard 1.0 (shared = n_union).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dedup = graft.operators.Dedup
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 200L).map { i =>
      (i, (0 until 20).map(j => vocab(((i + j) % 6).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = dedup.shinglesOf(docs).persist()
    try {
      assert(dedup.nearPairs(sh, dedup.nearMaxDf).isEmpty,
        "capped family should miss every pair on the saturated fixture")
      val lsh = dedup.verifyJaccard(sh, dedup.minhashCands(sh))
        .collect()
      assert(lsh.length === 200 * 199 / 2,
        s"LSH must recover all above-cap-only pairs, got ${lsh.length}")
      assert(lsh.forall(r => r.getLong(2) === r.getLong(3)),
        "every recovered pair is an exact duplicate (shared == n_union)")
    } finally sh.unpersist()
  }

  test("df-saturation guard: real corpora stay unflagged, sentinel-free, pairs unchanged") {
    // The negative control for the guard, plus the compatibility pin:
    // on headroom-respecting corpora the declared near query is the
    // memoized pair table + a constant-false flag, nothing else.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val near = SparkEntry.queries("q_dedup_near")(spark, dir).collect()
      assert(near.nonEmpty)
      assert(near.forall(!_.getBoolean(4)), s"real corpus flagged saturated at $dir")
      assert(near.forall(_.getLong(0) >= 0L), s"sentinel leaked into real-corpus output at $dir")
      val raw = graft.operators.Dedup.nearPairsIndexed(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(near.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet === raw,
        s"guard changed the pair table itself at $dir")
    }
  }

  test("X166 q_lsh_tune: sequential S-curve recount at two SFs; recall monotone in rows-per-band") {
    // The banding sweep must equal a driver-side replay of the exact
    // fixed-point chain (s4 -> repeated-squaring powers with HALF_UP
    // re-round -> 1-(1-s^r)^b -> HALF_UP mean) over the oracle-green
    // X5a pair table — and the S-curve's shape must survive the
    // rounding: fewer rows per band can only raise expected recall.
    val dedup = graft.operators.Dedup
    def r4(y: Long): Long = (2 * y + 10000) / 20000
    def pow4(x: Long, e: Long): Long =
      if (e == 1L) x else { val h = pow4(x, e / 2); r4(h * h) }
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val pairs = dedup.nearPairsIndexed(spark, dir)
        .collect().map(r => (r.getLong(2), r.getLong(3))) // (shared, n_union)
      assert(pairs.nonEmpty, s"vacuous: no truth pairs at $dir")
      val s4s = pairs.map { case (sh, nu) => (20000 * sh + nu) / (2 * nu) }
      val expected = dedup.lshTuneConfigs.map { case (b, r) =>
        val ps = s4s.map(s4 => 10000 - pow4(10000 - pow4(s4, r), b))
        val n = ps.length.toLong
        (b, r, n, ((2 * ps.sum + n) / (2 * n)).toDouble / 10000.0,
          ps.count(_ >= 5000).toLong)
      }.sortBy(_._1)
      val got = SparkEntry.queries("q_lsh_tune")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSeq
      assert(got === expected, s"lsh tune diverges from the sequential recount at $dir")
      // monotonicity: (8,1) >= (4,2) >= (2,4) >= (1,8) in recall and safety
      val byBands = got.sortBy(-_._1)
      assert(byBands.sliding(2).forall { case Seq(a, b) => a._4 >= b._4 },
        s"expected recall not monotone in rows-per-band at $dir: $byBands")
      assert(byBands.sliding(2).forall { case Seq(a, b) => a._5 >= b._5 },
        s"pairs_safe not monotone at $dir")
      // non-vacuous: the sweep separates the configs (the strictest
      // banding must genuinely lose recall vs the loosest)
      assert(byBands.head._4 > byBands.last._4,
        s"sweep degenerate at $dir — every config reads the same recall")
    }
  }

  test("X170 q_minhash_err: sequential estimator recount at two SFs; grid complete, errors bounded") {
    // The calibration table must equal a driver-side replay: per truth
    // pair, recompute the 8 slot hashes off MessageDigest exactly as
    // the oracle states them, count matching slots, bucket, and
    // HALF_UP-average the |1250*m - s4| errors. Plus the estimator's
    // own sanity: the 0..8 grid is complete, pair mass is conserved,
    // and every error is <= 1.0 by construction.
    val dedup = graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val sigs = dedup.minhashSig(dedup.shingleIndex(spark, dir))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val pairs = dedup.nearPairsIndexed(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(pairs.nonEmpty)
      val buckets = pairs.map { case (a, b, sh, nu) =>
        val s4 = (20000 * sh + nu) / (2 * nu)
        val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toLong
        (m, math.abs(1250 * m - s4))
      }.groupBy(_._1)
      val expected = (0L to 8L).map { m =>
        buckets.get(m) match {
          case None => (m, 0L, 0.0, 0.0)
          case Some(es) =>
            val n = es.length.toLong
            val se = es.map(_._2).sum
            (m, n, ((2 * se + n) / (2 * n)).toDouble / 10000.0,
              es.map(_._2).max.toDouble / 10000.0)
        }
      }
      val got = SparkEntry.queries("q_minhash_err")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(got === expected, s"minhash calibration diverges from the recount at $dir")
      assert(got.map(_._1) === (0L to 8L), s"match grid incomplete at $dir")
      assert(got.map(_._2).sum === pairs.length.toLong, s"pair mass not conserved at $dir")
      assert(got.forall(r => r._3 <= 1.0 && r._4 <= 1.0 && r._3 <= r._4),
        s"error bounds violated at $dir")
      assert(got.filter(_._2 > 0).map(_._1).distinct.length > 1,
        s"vacuous: every truth pair lands in one match bucket at $dir")
    }
  }

  test("word3grams is total: [] below 3 tokens, the exact 3-grams from 3 up, ANSI on") {
    // Below 3 tokens sequence(1, size(w) - 2) counts down, so the
    // unguarded lambda reads past the end (an error under ANSI) or at
    // index 0 (INVALID_INDEX_OF_ZERO); a caller without a size filter,
    // or one whose filter the optimizer runs after the lambda, needs
    // the guard inside the builder.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w3 = graft.operators.Dedup.word3grams _
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val toks = (0 to 4).map(k => (k, (1 to k).map(i => s"t$i"))).toDF("k", "w")
      val got = toks.select(col("k"), w3(col("w")))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      assert(got === Map(0 -> Nil, 1 -> Nil, 2 -> Nil,
        3 -> Seq("t1 t2 t3"), 4 -> Seq("t1 t2 t3", "t2 t3 t4")))
      // beside a generator, with no size filter upstream
      val exploded = toks.select(col("k"), explode(w3(col("w"))).as("g"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted
      assert(exploded.toSeq === Seq((3, "t1 t2 t3"), (4, "t1 t2 t3"), (4, "t2 t3 t4")))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }
}
