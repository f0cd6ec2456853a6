package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Extensions.dec

import scala.collection.immutable.ListMap

/** X21 — duplicate-cluster resolution: near-dup PAIRS are evidence,
  * but what a curation pipeline acts on is GROUPS ("keep one doc per
  * duplicate cluster"), and pair→group is graph connectivity —
  * transitive: A≈B and B≈C put A and C in one cluster even if they
  * never collided directly. The reference gateway has nothing like
  * this; it is the missing last step of the EXT dedup family
  * (X5a–X5d/X6 produce the edges, this resolves them).
  *
  * Algorithm: alternating large-star/small-star connected components
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — THE 100 TB shape for CC on DataFrames:
  *
  *  - each round is two groupBy-min aggregates + equi-joins over the
  *    EDGE set (bounded by the near-dup rate, orders of magnitude
  *    smaller than the corpus), all map-side-partial, no driver
  *    state;
  *  - the edge set only ever shrinks toward the star forest, and
  *    convergence is O(log²) rounds worst-case, 2–3 on real dup
  *    graphs (clusters are near-cliques);
  *  - per-round `localCheckpoint` truncates lineage so plans don't
  *    grow exponentially (on a cluster: `checkpoint` to durable
  *    storage for fault tolerance instead);
  *  - a label-propagation loop, by contrast, needs O(diameter)
  *    rounds — adversarial chains (A≈B≈C≈…) make that linear.
  *
  * At the fixpoint the edges form stars rooted at each component's
  * minimum doc_id — the canonical representative. Construction is
  * eager by nature (the loop runs Spark jobs when the query is
  * built, like `Dedup.nearPairs`' probe); the returned frame is a
  * cheap plan over the final checkpointed edge set.
  *
  * ClusteringSpec pins the result against a driver-side union-find
  * ground truth on randomized graphs (chains, cliques, isolated
  * pairs) plus the planted-near-dup truth set of the corpus.
  */
object Clustering {

  /** Alternating-star CC over an (id_a, id_b) pair set: returns
    * (doc_id, cluster_id, cluster_size) for every doc appearing in
    * at least one pair, cluster_id = min doc_id of the component.
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // canonical orientation: child → smaller endpoint, self-loops out
    var edges = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mn = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      // for every neighbor v > u: (v, min(Γ⁺(u))) — strictly-larger
      // neighbors re-point at u's best-known minimum
      sym.join(mn, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already point at smaller endpoints, so
      // min(Γ⁺(u)) = min(v); every smaller neighbor (and u itself)
      // re-points at it
      val mn = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
      e.join(mn, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(mn.select(col("u"), col("mn").as("v")))
        .distinct()
    }

    // order-independent edge-set signature: count + XOR of per-edge
    // hashes (XOR: commutative, no ANSI overflow; edges are distinct
    // so pair-cancellation needs a hash collision, and the exact test
    // below still guards that) — one scalar aggregate over the
    // checkpointed edges, far cheaper than the symmetric difference
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var converged = edges.isEmpty
    var curSig = if (converged) (0L, 0L) else sig(edges)
    // OPTIMIZATION r20 (guide §1.2 step 1 — fix the distributed
    // algorithm's constant factors): below a bounded edge count,
    // FINISH LOCALLY instead of iterating the fixpoint. Each
    // alternating-star round costs a checkpoint job + a signature job
    // (plus the convergence-confirming anti-joins on the last round) —
    // pure driver/stage latency once the graph is small — while a
    // driver union-find over a few thousand collected edges is
    // microseconds and provably computes the same (min-id label,
    // component size) contract (ClusteringSpec pins local ≡ fixpoint ≡
    // union-find on adversarial and randomized graphs). The switch is
    // runtime-adaptive on the ACTUAL canonical edge count (the same
    // count the signature aggregate already pays for), exactly like
    // AQE's runtime broadcast decisions: corpus-scale dup graphs keep
    // the fixpoint; the threshold is conf-tunable and 0 disables.
    // Driver cost per collected edge is NOT 16 B of payload: each
    // materializes a GenericRow (~100-150 B with headers/boxing) plus
    // the union-find HashMap entries and output Rows — budget roughly
    // 300-500 B per edge, so the default 200k edges is tens of MB on
    // the driver (r20 ADVICE). Anyone raising the threshold should
    // size from that figure against spark.driver.memory, not from the
    // raw 16 B/edge payload.
    val localThr = pairs.sparkSession.conf
      .get("spark.graft.cc.localEdgeThreshold", "200000").toLong
    if (!converged && curSig._1 <= localThr)
      return localComponents(pairs.sparkSession, edges)
    var rounds = 0
    while (!converged && rounds < 30) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = sig(next)
      // cheap test first: unequal signatures prove the round changed
      // the edge set, so the two anti-joins are skipped on every
      // non-final round (they roughly doubled per-round work, r10
      // verdict). Equal signatures only PROBABLY mean a fixpoint, so
      // the exact symmetric-difference test still confirms before the
      // loop may exit — the correctness gate never rests on a checksum.
      converged = nextSig == curSig &&
        next.except(edges).union(edges.except(next)).isEmpty
      edges = next
      curSig = nextSig
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $rounds rounds")

    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(
        col("doc_id"),
        col("cluster_id").cast("long").as("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Driver union-find finish for [[connectedComponents]] once the
    * canonical edge set is below the bounded-collect threshold: same
    * output contract as the converged star fixpoint — every vertex of
    * the (self-loop-free, distinct) edge set labeled with its
    * component's minimum id, plus the component size. Union-by-min
    * keeps each tree's root the component minimum by induction, so
    * find() after all unions IS the label. The result is parallelized
    * (not a LocalRelation) so consumer plans stay small.
    */
  private def localComponents(
      spark: SparkSession, edges: DataFrame): DataFrame = {
    val es = edges.collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path halving
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    var i = 0
    while (i < es.length) {
      val u = es(i).getLong(0)
      val v = es(i).getLong(1)
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val ru = find(u)
      val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
      i += 1
    }
    val verts = new Array[Long](parent.size())
    val it = parent.keySet().iterator()
    var n = 0
    while (it.hasNext) { verts(n) = it.next(); n += 1 }
    java.util.Arrays.sort(verts)
    val sizes = new java.util.HashMap[Long, Long]()
    verts.foreach { v =>
      val r = find(v)
      sizes.put(r, sizes.getOrDefault(r, 0L) + 1L)
    }
    val rows = verts.toIndexedSeq.map { v =>
      val r = find(v)
      org.apache.spark.sql.Row(v, r, sizes.get(r).longValue())
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_size",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(rows.size / 5000 + 1, spark.sparkContext.defaultParallelism))),
      schema)
      .orderBy("doc_id")
  }

  /** Session-memoized cluster labels: `q_dedup_cluster` and
    * `q_dedup_keep` share one CC run per (session, dir). The iterative
    * fixpoint is CONSTRUCTION-time work, so a fresh measurement needs
    * [[SessionMemo.release]], not just `clearCache()`.
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, dir, "cluster_labels")(connectedComponents(Dedup.minhashPairs(s, dir)))

  /** The declared query: clusters over the MinHash-verified near-dup
    * pairs (X5b's output contract — any of the X5 pair streams would
    * do; MinHash is the cheapest verified one).
    */
  private def dedupCluster(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)

  /** X26 — dedup survivorship: the ACTIONABLE end of the dedup family
    * — per corpus doc, its canonical cluster id and the keep/drop
    * verdict (keep ⟺ the doc IS its cluster's canonical minimum; docs
    * in no near-dup cluster keep themselves). This is the query a
    * curation pipeline actually materializes: `filter(is_kept = 1)`
    * IS the deduplicated corpus.
    *
    * Scale shape: a left join of the corpus id stream against the
    * cluster labels — bounded by the dup rate, orders of magnitude
    * smaller than the corpus. The labels sit over a checkpointed RDD
    * with no compile-time stats, so the STATIC plan is an SMJ; it is
    * AQE's runtime exchange statistics that flip it to a broadcast of
    * the labels side (ClusteringSpec pins the final adaptive plan) —
    * still no hint, so the choice retracts if dup volume ever grows.
    * Shares the memoized CC run with `q_dedup_cluster`.
    */
  private def dedupKeep(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir).select(col("doc_id"), col("cluster_id"))
    Dedup.corpusIds(s, dir)
      .join(labels, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).cast("long").as("cluster_id"),
        when(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"), 1L)
          .otherwise(0L).as("is_kept"))
      .orderBy("doc_id")
  }

  /** X90 — quality-keyed cluster representative (`q_dedup_rep`): per
    * duplicate cluster, the member a quality-aware pipeline KEEPS —
    * the longest document, doc_id tie-break (RefinedWeb's
    * keep-the-longest rule; any deterministic quality key slots into
    * the same argmax). X26 keeps the canonical MINIMUM id — correct
    * as a set operation but id-blind: when a crawl's richer capture
    * of a page carries a larger id, X26 drops the better copy. X90
    * emits, per cluster, the size, the quality representative and
    * whether it coincides with X26's canonical min (`rep_is_min` —
    * the rows where it is 0 are exactly the docs the id-blind rule
    * would have thrown away; ClusteringSpec pins both values occur).
    *
    * Determinism: the argmax is `max(struct(n_chars, -doc_id))` —
    * integer length, negated-id tie-break, total order with no float
    * anywhere.
    *
    * Scale shape: reuses the memoized CC labels (bounded by dup
    * volume, NOT corpus size); ONE id-keyed join fetches member
    * lengths from the corpus scan (AQE broadcasts the label side from
    * runtime stats — no hint, retracts if dup volume grows), then ONE
    * keyed aggregate over the labels with map-side partial argmax.
    * Never a corpus-wide window, never a collect.
    */
  private def dedupRep(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir).select(col("doc_id"), col("cluster_id"))
    val len = Dedup.corpus(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    labels.join(len, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("m"),
        min(col("doc_id")).as("min_id"))
      .select(
        col("cluster_id").cast("long").as("cluster_id"),
        col("n_members").cast("long").as("n_members"),
        (-col("m.nd")).cast("long").as("rep_id"),
        col("m.n_chars").cast("long").as("rep_chars"),
        when(col("m.nd") === -col("min_id"), 1L).otherwise(0L).as("rep_is_min"))
      .orderBy("cluster_id")
  }

  private def dedupRepSql: String =
    s"""$clusterChainSql,
       |len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM corpus),
       |r AS (
       |  SELECT l.cluster_id, l.doc_id, len.n_chars,
       |    row_number() OVER (
       |      PARTITION BY l.cluster_id ORDER BY len.n_chars DESC, l.doc_id) AS rn
       |  FROM labels l JOIN len USING (doc_id)),
       |agg AS (
       |  SELECT cluster_id, count(*) AS n_members, min(doc_id) AS min_id
       |  FROM r GROUP BY cluster_id)
       |SELECT CAST(r.cluster_id AS BIGINT) AS cluster_id,
       |  CAST(agg.n_members AS BIGINT) AS n_members,
       |  CAST(r.doc_id AS BIGINT) AS rep_id,
       |  r.n_chars AS rep_chars,
       |  CAST(CASE WHEN r.doc_id = agg.min_id THEN 1 ELSE 0 END AS BIGINT) AS rep_is_min
       |FROM r JOIN agg USING (cluster_id)
       |WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** X42 — per-source duplication diagnostics: the X26 keep/drop
    * verdict aggregated by crawl source — the "which feeds are
    * redundant" dashboard a curation run reports (X40 measures source
    * REDUNDANCY by token profile; this measures what dedup actually
    * DROPPED per source, the actioned counterpart). Real documents
    * only: the planted copies carry synthetic ids outside `documents`,
    * so the source join naturally scopes the report to the corpus.
    *
    * Scale shape: reuses the memoized CC labels (bounded by dup rate),
    * one broadcast-able verdict join (AQE, no hint — the X26 plan),
    * one |sources|-bounded partial-agg'd aggregate. Nothing new
    * touches the corpus beyond X26's own pass.
    */
  private def dupStats(s: SparkSession, dir: String): DataFrame =
    dedupKeep(s, dir)
      .join(graft.Tables(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("is_kept") === 0, 1L).otherwise(0L)).cast("long").as("n_dropped"))
      .select(
        col("source"), col("n_docs"), col("n_dropped"),
        round(col("n_dropped").cast("double") * 100 / col("n_docs"), 4).as("dup_pct"))
      .orderBy("source")

  private def dupStatsSql: String =
    s"""$clusterChainSql,
       |verdict AS (
       |  SELECT c.doc_id,
       |    CASE WHEN COALESCE(l.cluster_id, c.doc_id) = c.doc_id THEN 1 ELSE 0 END AS is_kept
       |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(1 - is_kept) AS BIGINT) AS n_dropped,
       |  round(CAST(sum(1 - is_kept) AS DOUBLE) * 100 / count(*), 4) AS dup_pct
       |FROM verdict v JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Fixed k-means centroid count. Like the ANN query vector, the
    * centroid set of a real run is OPERATOR CONFIG (seeded or carried
    * over from the previous iteration), never corpus-proportional —
    * here the embeddings of vec_id 1..K, deterministic in both
    * engines.
    */
  private[graft] val centroidK = 8

  /** Session-memoized centroid vectors (the [[Similarity.queryVec]]
    * pattern: one small eager fetch at query CONSTRUCTION).
    */
  private[graft] def centroids(s: SparkSession, dir: String): Seq[(Long, Array[Float])] =
    SessionMemo(s, dir, "centroids") {
      val rows = graft.Tables(s, dir, "embeddings")
        .filter(col("vec_id").between(1, centroidK))
        .select(col("vec_id"), col("embedding")).collect()
      require(rows.length == centroidK,
        s"expected $centroidK centroid rows (vec_id 1..$centroidK) in $dir/embeddings, " +
          s"found ${rows.length}")
      rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    }

  /** X32 — k-means cluster assignment over the embedding column: the
    * semantic-curation bucketing step (SemDeDup-style pipelines
    * cluster embeddings first, then dedup/prune WITHIN clusters, so
    * assignment is the operator that runs over the full corpus every
    * iteration; the update step is a plain `groupBy(cid).avg` over
    * this output). Each vector goes to the nearest of the K fixed
    * centroids by squared L2, rounded to 4 dp BEFORE the argmin with
    * centroid-id tie-break — the decision itself is then
    * engine-portable, not just the reported distance (the R20
    * compare-on-rounded rule applied to an argmin).
    *
    * Scale shape (100 TB): K is config, so the centroids enter the
    * plan as LITERALS and the argmin is `least()` over K
    * (distance, cid) structs — pure narrow per-row codegen'd work:
    * no join, no shuffle, no window, embarrassingly parallel. The
    * oracle states the textbook cross-join + `row_number` form; the
    * declared plan never materializes the K× intermediate. The L2
    * HOF lowers to the native `ArrayL2Sq` expression via
    * [[graft.plans.RewriteVectorHofs]] like every other scoring path.
    */
  private def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val best = bestCentroid(s, dir)
    graft.Tables(s, dir, "embeddings")
      .select(
        col("vec_id"),
        best.getField("cid").cast("long").as("cid"),
        best.getField("d2").as("d2"))
      .orderBy("vec_id")
  }

  /** The literal-centroid argmin struct (d2, cid) shared by
    * assignment, update, and the IVF probe ([[Similarity]]).
    */
  private[graft] def bestCentroid(s: SparkSession, dir: String): org.apache.spark.sql.Column =
    bestCentroidOf(centroids(s, dir).map { case (cid, v) => cid -> v.map(_.toDouble) })

  /** The same argmin over an EXPLICIT centroid set — the building
    * block a composed Lloyd loop re-literalizes each iteration
    * ([[lloyd]]). Double vectors because the X33 means come back as
    * rounded doubles; `l2Sq` computes in double either way, so the
    * fixed float centroids delegate here loss-free.
    */
  private[graft] def bestCentroidOf(
      cents: Seq[(Long, Array[Double])]): org.apache.spark.sql.Column = {
    val cands = cents.map { case (cid, v) =>
      struct(
        round(VectorOps.l2Sq(col("embedding"), typedlit(v.toSeq)), 4).as("d2"),
        lit(cid).as("cid"))
    }
    least(cands: _*)
  }

  /** X33 — k-means centroid update: per-cluster per-dimension means
    * over the X32 assignment — the other half of the Lloyd iteration
    * (new centroid c = mean of its assigned vectors; a driver loop
    * alternating X32/X33 IS distributed k-means). Emitted as
    * (cid, dim, mean) rows, not arrays — the oracle contract bans
    * array outputs, and the row form is what the next iteration's
    * literal-centroid build reads anyway.
    *
    * Scale shape (100 TB): `posexplode` multiplies the stream by d=64,
    * but partial aggregation runs BEFORE the exchange — the shuffle
    * carries at most partitions × K × d partial sums (plan constants),
    * not N×d rows, and K×d groups can never skew. This is why the
    * textbook explode+groupBy IS the scale shape here, where a
    * per-dim window or collect-based vector sum would not be.
    *
    * Float caveat — signed zero, not drift: a tiny negative mean
    * rounds to DuckDB `-0.0` (IEEE sign preserved by `round`) while
    * Spark's `round` goes through BigDecimal and emits `+0.0`; the
    * bit patterns differ and the driver's hash compare flips. The
    * oracle therefore appends `+ 0` (IEEE: `-0.0 + 0 = +0.0`) after
    * every signed `round` — the central rule for all signed rounded
    * measures (SURVEY §2 tail). Reassociation drift is NOT the issue
    * here: the nearest rounding boundary sits ~7e-8 from the data,
    * far beyond ~n·ulp reorder noise.
    */
  private def kmeansUpdate(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings")
      // two selects: resolving the argmin struct's getField inside the
      // same projection as the generator loses the struct field names
      .select(bestCentroid(s, dir).getField("cid").cast("long").as("cid"), col("embedding"))
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy(col("cid"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 4).as("mean"))
      .orderBy("cid", "dim")

  /** Composed distributed k-means — the X32/X33 contract made
    * concrete: a driver loop alternating assignment (X32 shape) and
    * centroid update (X33 shape), re-literalizing the K×d rounded
    * means between iterations. Per iteration the corpus sees exactly
    * one narrow codegen'd pass (argmin + SSE scalar) and one
    * partial-agg'd K×d-bounded shuffle (the X33 plan); the driver
    * holds only K×d doubles — nothing corpus-proportional ever leaves
    * the executors, which is why this IS distributed k-means at
    * 100 TB, not a toy loop.
    *
    * Returns, per iteration, the centroids it produced and the
    * within-cluster SSE of the assignment under the centroids
    * ENTERING the iteration — the quantity Lloyd's algorithm
    * guarantees non-increasing (ClusteringSpec pins it, with a small
    * tolerance for the round-4 contract on d2 and the means).
    *
    * The SSE is carried as a SCALED INTEGER (round-4 d2 × 10⁴, summed
    * as BIGINT): integer addition is order-independent, so the value
    * is bit-identical no matter how the executors reassociate the
    * sum — which is what lets [[kmeansLloyd]] declare it in the
    * hash-compared oracle contract. One corpus pass per iteration:
    * the scaled d2 rides the X33 explode and is recovered from the
    * per-(cid,dim) partial sums (each vector's d2 lands in exactly d
    * groups, so the group total is d × SSE — divide back out).
    */
  private[graft] def lloyd(
      s: SparkSession, dir: String, iterations: Int): Seq[(Seq[(Long, Array[Double])], Long)] = {
    var cents = centroids(s, dir).map { case (cid, v) => cid -> v.map(_.toDouble) }
    val hist = Seq.newBuilder[(Seq[(Long, Array[Double])], Long)]
    for (_ <- 1 to iterations) {
      val best = bestCentroidOf(cents)
      // the X33 expression verbatim, plus the scaled-d2 rider; collect
      // is K×d rows — operator config, never corpus-proportional
      val rows = graft.Tables(s, dir, "embeddings")
        .select(
          best.getField("cid").cast("long").as("cid"),
          round(best.getField("d2") * lit(10000)).cast("long").as("sd2"),
          col("embedding"))
        .select(col("cid"), col("sd2"), posexplode(col("embedding")))
        .groupBy(col("cid"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg(col("col").cast("double")), 4).as("mean"), sum(col("sd2")).as("g"))
        .collect()
      val dims = rows.map(_.getLong(1)).max
      val sse = rows.map(_.getLong(3)).sum / dims
      val next = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray
      }
      hist += ((next, sse))
      cents = next
    }
    hist.result()
  }

  private[graft] val lloydIters = 3

  /** X32+X33 composed — the Lloyd loop DECLARED as a query: three
    * iterations of assign → update → re-literalize, emitting every
    * iteration's K×d centroid rows together with the scaled-integer
    * within-cluster SSE of the assignment that produced them (SSE
    * under the centroids ENTERING the iteration, the quantity Lloyd
    * keeps non-increasing). The oracle is the loop UNROLLED — the
    * X41 BPE precedent applied to k-means: each oracle iteration
    * recomputes the textbook cross-join argmin under the previous
    * iteration's ROUNDED means, so verify pins the distributed loop
    * iteration by iteration, mean by mean, SSE by SSE.
    *
    * Portability is by construction, not luck: assignments compare
    * round-4 d2 (the X32 rule), the means fed forward are the round-4
    * literals on BOTH sides, and the SSE is an integer sum — the only
    * float drift surface left is avg() reassociation inside one
    * iteration, the same surface X33 already ships.
    */
  private def kmeansLloyd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lloyd(s, dir, lloydIters).zipWithIndex.flatMap { case ((cents, sse), i) =>
      cents.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (m, d) => (i + 1L, cid, d + 1L, m, sse) }
      }
    }.toDF("iter", "cid", "dim", "mean", "sse_scaled").orderBy("iter", "cid", "dim")
  }

  private def kmeansLloydSql: String = {
    val iters = (1 to lloydIters).map { k =>
      s"""d$k AS (
         |  SELECT e.vec_id, c.cid,
         |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
         |  FROM embeddings e, c${k - 1} c),
         |a$k AS (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT vec_id, cid, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d$k)
         |  WHERE rn = 1),
         |sse$k AS (
         |  SELECT CAST(sum(CAST(round(d2 * 10000, 0) AS BIGINT)) AS BIGINT) AS sse FROM a$k),
         |m$k AS (
         |  SELECT CAST(a.cid AS BIGINT) AS cid, CAST(s.i AS BIGINT) AS dim,
         |    round(avg(CAST(e.embedding[s.i] AS DOUBLE)), 4) + 0 AS mean
         |  FROM a$k a JOIN embeddings e USING (vec_id),
         |    LATERAL unnest(generate_series(1, len(e.embedding))) AS s(i)
         |  GROUP BY a.cid, s.i),
         |c$k AS (SELECT cid, list(mean ORDER BY dim) AS ce FROM m$k GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val union = (1 to lloydIters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS iter, m.cid, m.dim, m.mean, s.sse AS sse_scaled FROM m$k m, sse$k s")
      .mkString(" UNION ALL ")
    s"""WITH c0 AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |$iters
       |SELECT * FROM ($union) ORDER BY iter, cid, dim""".stripMargin
  }

  private def kmeansUpdateSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c),
       |r AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM r WHERE rn = 1)
       |SELECT a.cid, CAST(s.i AS BIGINT) AS dim,
       |  round(avg(CAST(e.embedding[s.i] AS DOUBLE)), 4) + 0 AS mean
       |FROM a JOIN embeddings e USING (vec_id),
       |  LATERAL unnest(generate_series(1, len(e.embedding))) AS s(i)
       |GROUP BY a.cid, s.i ORDER BY cid, dim""".stripMargin

  /** The literal-centroid argmin as a CTE fragment (`cells` =
    * (vec_id, cid, d2), one row per vector) — factored so X112's
    * hard-negative oracle assigns cells with EXACTLY the chain the
    * standalone assignment oracle states.
    */
  private[graft] def cellCtes: String =
    s"""c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c),
       |r AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |cells AS (SELECT vec_id, cid, d2 FROM r WHERE rn = 1)""".stripMargin

  private def kmeansSql: String =
    s"""WITH $cellCtes
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, d2 FROM cells
       |ORDER BY vec_id""".stripMargin

  /** Oracle chain shared by both finals: the MinHash pair chain, then
    * min-label transitive closure as a recursive CTE (DuckDB's
    * UNION-dedup semi-naive evaluation terminates it), grouped to
    * (member, min reachable).
    */
  /** The verify → Jaccard cut → CC-labels CTE fragment (needs the
    * minhash cand chain in scope) — factored so composed oracles (the
    * X44 pipeline) can label a DERIVED corpus with the exact chain
    * the standalone cluster oracles state.
    */
  private[graft] def ccLabelCtes: String =
    """verified AS (
      |  SELECT c.id_a, c.id_b, count(*) AS shared
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
      |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT v.id_a, v.id_b FROM verified v
      |  JOIN card ca ON ca.doc_id = v.id_a
      |  JOIN card cb ON cb.doc_id = v.id_b
      |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(v, x) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT r.v, e.v FROM reach r JOIN edges e ON e.u = r.x),
      |labels AS (SELECT v AS doc_id, min(x) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  private[graft] def clusterChainSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashCandSql},
       |$ccLabelCtes""".stripMargin

  private def clusterSql: String =
    s"""$clusterChainSql,
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id)
       |SELECT l.doc_id, CAST(l.cluster_id AS BIGINT) AS cluster_id,
       |  CAST(s.cluster_size AS BIGINT) AS cluster_size
       |FROM labels l JOIN sizes s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  private def keepSql: String =
    s"""$clusterChainSql
       |SELECT c.doc_id,
       |  CAST(COALESCE(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id,
       |  CAST(CASE WHEN COALESCE(l.cluster_id, c.doc_id) = c.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
       |FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Per-cell quota for X57 — chosen strictly between the smallest
    * and largest cell populations at the SPEC/ORACLE SFs (sf0.001
    * cells span 55–80 vectors, sf0.01 span 44–75; measured r14), so
    * the cap binds in some cells and not others there — both branches
    * of the keep decision stay non-vacuous (ClusteringSpec pins it;
    * the X38 philosophy applied to semantic cells). At sf0.1+ every
    * cell exceeds M and the cap binds everywhere — the production
    * shape: a 100 TB diversity quota is expected to truncate every
    * over-represented semantic region.
    */
  private[graft] val clusterSampleM = 60

  /** X57 — cluster-balanced (diversity) sampling: keep at most M
    * vectors per k-means cell, chosen by a salted hash-uniform — the
    * "semantic mixing" step SemDeDup-style pipelines run after
    * clustering: per-CELL caps flatten over-represented semantic
    * regions the way X38's per-SOURCE caps flatten over-crawled
    * feeds (provenance says nothing about meaning; the cell id is
    * the meaning-keyed stratum). Selection key is a salted md5
    * uniform, NEVER `rand()` — reproducible engine-to-engine and
    * under repartitioning (the X16/X49 discipline).
    *
    * Scale shape: assignment is the X32 narrow literal-centroid
    * argmin (no join, no shuffle); the per-cell ranking goes through
    * [[graft.operators.Extensions.rankedByRange]] — K is small and a
    * popular cell is exactly the X38 Zipf hazard, so no task ever
    * sorts a whole cell. Output is the kept rows only; rank carried
    * so the cap is auditable.
    */
  private def clusterSample(s: SparkSession, dir: String): DataFrame = {
    val assigned = graft.Tables(s, dir, "embeddings")
      .select(
        col("vec_id"),
        bestCentroid(s, dir).getField("cid").cast("long").as("cid"),
        graft.operators.Hashing.h32(
          concat(lit("cs"), col("vec_id").cast("string"))).as("u"))
    Extensions.rankedByRange(assigned, "cid", Seq("u", "vec_id"), "cs_rank")
      .filter(col("cs_rank") <= clusterSampleM)
      .select(col("vec_id"), col("cid"), col("cs_rank").cast("long").as("cs_rank"))
      .orderBy("vec_id")
  }

  private def clusterSampleSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c),
       |a AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |u AS (
       |  SELECT vec_id, cid,
       |    ('0x' || substr(md5('cs' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS u
       |  FROM a WHERE rn = 1),
       |r AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY cid ORDER BY u, vec_id) AS cs_rank
       |  FROM u)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(cs_rank AS BIGINT) AS cs_rank
       |FROM r WHERE cs_rank <= $clusterSampleM ORDER BY vec_id""".stripMargin

  /** X113 — prototype/outlier pruning (`q_embed_prune`): the D4
    * recipe's per-cell screen (SemDeDup + SSL-prototypes: after
    * clustering, the vectors CLOSEST to their centroid are redundant
    * prototypes — near-duplicates of the cell's concept — and the
    * FARTHEST are OOD noise; pruning both, keeping the diverse
    * middle, beats random pruning at equal budget). Per k-means
    * cell: verdict 1 (prototype) for the lowest-d2 decile by EXACT
    * order statistic — rank ≤ ⌈n/10⌉ under the total order
    * (d2, vec_id) — verdict 2 (outlier) for the top decile, 0 keep
    * otherwise; rank and cell size ride every row so the cuts are
    * auditable. Tiny cells where the deciles overlap resolve
    * proto-first — the CASE order, identical in both engines.
    *
    * Numerics: d2 is X32's compare-on-rounded argmin distance (4 dp
    * BEFORE ranking, vec_id tie-break), the cuts are pure integer
    * (⌈n/10⌉ = (n+9) div 10) — the whole verdict is engine-portable.
    *
    * Scale shape: assignment is the narrow literal-centroid argmin
    * (no join); the per-cell ranking goes through
    * [[graft.operators.Extensions.rankedByRange]] — a popular cell
    * is the X38 Zipf hazard, so no task ever sorts a whole cell —
    * and cell counts are a ≤K-row broadcast. Two narrow corpus
    * passes total (rank keys + counts), the X85 shape.
    */
  private def embedPrune(s: SparkSession, dir: String): DataFrame = {
    val best = bestCentroid(s, dir)
    val assigned = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        best.getField("cid").cast("long").as("cid"),
        best.getField("d2").as("d2"))
    val rk = Extensions.rankedByRange(
      assigned.select(col("cid"), col("d2"), col("vec_id")),
      "cid", Seq("d2", "vec_id"), "rk")
    val cnt = assigned.groupBy(col("cid")).agg(count(lit(1)).cast("long").as("n"))
    rk.join(broadcast(cnt), "cid")
      .withColumn("cut", expr("(n + 9) div 10"))
      .select(col("vec_id"), col("cid"), col("d2"), col("n"),
        col("rk").cast("long").as("rk"),
        when(col("rk") <= col("cut"), lit(1L))
          .when(col("rk") >= col("n") - col("cut") + 1, lit(2L))
          .otherwise(lit(0L)).as("verdict"))
      .orderBy("vec_id")
  }

  private def embedPruneSql: String =
    s"""WITH $cellCtes,
       |rk AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk
       |  FROM cells),
       |cn AS (SELECT cid, count(*) AS n FROM cells GROUP BY 1)
       |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, r.d2,
       |  CAST(c.n AS BIGINT) AS n, CAST(r.rk AS BIGINT) AS rk,
       |  CAST(CASE WHEN r.rk <= (c.n + 9) // 10 THEN 1
       |    WHEN r.rk >= c.n - (c.n + 9) // 10 + 1 THEN 2
       |    ELSE 0 END AS BIGINT) AS verdict
       |FROM rk r JOIN cn c USING (cid) ORDER BY vec_id""".stripMargin

  /** X115 — per-slice semantic diversity (`q_sem_diversity`): how
    * semantically NARROW is each labeled slice of the corpus? Per
    * label: Shannon entropy of its X32 cell distribution (the
    * meaning-keyed strata) plus the dominant-cell share — the audit
    * a mixture designer reads next to X25's weights: a slice whose
    * mass collapses into one semantic cell (low H, high top share)
    * contributes far less diversity than its token count suggests,
    * exactly the signal behind cell-balanced sampling (X57) and D4
    * pruning (X113). Cells touched rides as `n_cells` (zero-entropy
    * single-cell slices stay visible).
    *
    * Numerics (the X51 discipline): p = c/n is an exact rational;
    * each term 10⁶·p·ln p is computed on IDENTICAL doubles in both
    * engines and snapped to millionths BEFORE summing, so the sum is
    * an exact integer of 1e-6 units; H = −Σ rounds 4dp by the
    * integer (ǀtǀ+50) div 100 HALF_UP (terms ≤ 0 always, H ≥ 0);
    * top share by pure-integer (20000·maxc + n) div 2n.
    *
    * Scale shape: assignment is the narrow literal argmin (no join);
    * ONE exchange collapses the corpus to the ≤ǀlabelsǀ·K matrix
    * with map-side partials; everything downstream (ln snaps, the
    * rollup) runs on that dictionary.
    */
  private def semDiversity(s: SparkSession, dir: String): DataFrame = {
    val cellsDf = graft.Tables(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        bestCentroid(s, dir).getField("cid").cast("long").as("cid"))
      .groupBy(col("label"), col("cid")).agg(count(lit(1)).as("c"))
    val byLabel = cellsDf.groupBy(col("label"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"), max(col("c")).as("maxc"))
    cellsDf.join(broadcast(byLabel), "label")
      .select(col("label"), col("n"), col("n_cells"), col("maxc"),
        round(lit(1000000.0) * (col("c").cast("double") / col("n"))
          * log(col("c").cast("double") / col("n")), 0).cast("long").as("t6"))
      .groupBy(col("label"), col("n"), col("n_cells"), col("maxc"))
      .agg(sum(col("t6")).as("h6"))
      .select(col("label"), col("n").cast("long").as("n_vecs"),
        col("n_cells").cast("long").as("n_cells"),
        (floor((abs(col("h6")) + 50) / 100).cast("long") / lit(10000.0)).as("entropy"),
        Extensions.share4("maxc", "n").as("top_share"))
      .orderBy("label")
  }

  private def semDiversitySql: String =
    s"""WITH $cellCtes,
       |lc AS (
       |  SELECT e.label, c.cid, CAST(count(*) AS BIGINT) AS c
       |  FROM cells c JOIN embeddings e ON e.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |bl AS (
       |  SELECT label, sum(c) AS n, count(*) AS n_cells, max(c) AS maxc
       |  FROM lc GROUP BY 1),
       |terms AS (
       |  SELECT l.label, b.n, b.n_cells, b.maxc,
       |    CAST(round(1000000.0 * (CAST(l.c AS DOUBLE) / b.n)
       |      * ln(CAST(l.c AS DOUBLE) / b.n), 0) AS BIGINT) AS t6
       |  FROM lc l JOIN bl b ON b.label = l.label)
       |SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n_vecs,
       |  CAST(n_cells AS BIGINT) AS n_cells,
       |  CAST(floor((abs(sum(t6)) + 50) / 100) AS BIGINT) / 10000.0 AS entropy,
       |  CAST((20000 * maxc + n) // (2 * n) AS BIGINT) / 10000.0 AS top_share
       |FROM terms GROUP BY label, n, n_cells, maxc ORDER BY label""".stripMargin

  /** X116 — cluster–label agreement (`q_cluster_nmi`): the EXTERNAL
    * cluster-validity check completing the evaluation pair with X99's
    * internal silhouette — silhouette asks "are the cells compact?",
    * this asks "do the cells MEAN anything?" by scoring them against
    * the independent label column. Per cell: size, majority label
    * (count-then-min-label argmax — deterministic), purity = maxc/n_c;
    * riding every row, the corpus verdict: normalized mutual
    * information NMI = I(cell;label)/√(H(cell)·H(label)) from the
    * K×L contingency matrix — the standard external score (0 =
    * independent, 1 = identical partitions). On THIS corpus the
    * labels are synthetic round-robin, so NMI honestly ≈ 0 — exactly
    * the property that makes the score informative (ClusteringSpec
    * pins the near-zero band plus purity ≈ 1/L, and a permutation
    * argument: relabeling by cell id drives NMI to 1 through the
    * same code path).
    *
    * Numerics: every MI/entropy term 10⁶·p·ln(·) is computed on
    * IDENTICAL doubles (exact integer rationals in) and snapped to
    * millionths BEFORE summing (X51/X115 discipline) → MI6, Hc6,
    * Hl6 are exact integers; the final NMI = round4 of
    * MI6/√(Hc6·Hl6) is ONE fixed IEEE sequence on identical
    * integers (the X106 argument); degenerate H = 0 defines NMI 0.
    *
    * Scale shape: ONE exchange collapses the corpus to the K×L
    * contingency dictionary with map-side partials; marginals,
    * snaps and the rollup all run on that dictionary.
    */
  private def clusterNmi(s: SparkSession, dir: String): DataFrame = {
    val cont = graft.Tables(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        bestCentroid(s, dir).getField("cid").cast("long").as("cid"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nRow = cont.agg(sum(col("c")).as("n"))
    val ma = cont.groupBy(col("cid")).agg(sum(col("c")).as("a"))
    val mb = cont.groupBy(col("label")).agg(sum(col("c")).as("b"))
    val mi6 = cont.join(broadcast(ma), "cid").join(broadcast(mb), "label")
      .crossJoin(broadcast(nRow))
      .select(
        round(lit(1000000.0) * (col("c").cast("double") / col("n"))
          * log((col("n").cast("double") * col("c"))
            / (col("a").cast("double") * col("b"))), 0).cast("long").as("t6"))
      .agg(sum(col("t6")).as("mi6"))
    def ent6(marg: DataFrame, m: String, out: String): DataFrame = marg
      .crossJoin(broadcast(nRow))
      .select(round(lit(-1000000.0) * (col(m).cast("double") / col("n"))
        * log(col(m).cast("double") / col("n")), 0).cast("long").as("e6"))
      .agg(sum(col("e6")).as(out))
    val verdict = mi6
      .crossJoin(ent6(ma, "a", "h_cid"))
      .crossJoin(ent6(mb, "b", "h_label"))
      .select(
        when(col("h_cid") <= 0 || col("h_label") <= 0, lit(0.0)).otherwise(
          round(col("mi6").cast("double")
            / sqrt(col("h_cid").cast("double") * col("h_label")), 4)).as("nmi"))
    cont
      .groupBy(col("cid"))
      .agg(sum(col("c")).as("n_c"),
        max(struct(col("c").as("c"), (-col("label")).as("nl"))).as("top"))
      .crossJoin(broadcast(verdict))
      .select(col("cid"), col("n_c").cast("long").as("n_c"),
        (-col("top.nl")).cast("long").as("top_label"),
        Extensions.share4("top.c", "n_c").as("purity"),
        col("nmi"))
      .orderBy("cid")
  }

  private def clusterNmiSql: String =
    s"""WITH $cellCtes,
       |ct AS (
       |  SELECT c.cid, e.label, CAST(count(*) AS BIGINT) AS c
       |  FROM cells c JOIN embeddings e ON e.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |ma AS (SELECT cid, sum(c) AS a FROM ct GROUP BY 1),
       |mb AS (SELECT label, sum(c) AS b FROM ct GROUP BY 1),
       |nn AS (SELECT sum(c) AS n FROM ct),
       |mi AS (
       |  SELECT sum(CAST(round(1000000.0 * (CAST(ct.c AS DOUBLE) / nn.n)
       |    * ln((CAST(nn.n AS DOUBLE) * ct.c) / (CAST(ma.a AS DOUBLE) * mb.b)), 0)
       |    AS BIGINT)) AS mi6
       |  FROM ct JOIN ma ON ma.cid = ct.cid JOIN mb ON mb.label = ct.label
       |  CROSS JOIN nn),
       |hc AS (
       |  SELECT sum(CAST(round(-1000000.0 * (CAST(a AS DOUBLE) / nn.n)
       |    * ln(CAST(a AS DOUBLE) / nn.n), 0) AS BIGINT)) AS h_cid
       |  FROM ma, nn),
       |hl AS (
       |  SELECT sum(CAST(round(-1000000.0 * (CAST(b AS DOUBLE) / nn.n)
       |    * ln(CAST(b AS DOUBLE) / nn.n), 0) AS BIGINT)) AS h_label
       |  FROM mb, nn),
       |v AS (
       |  SELECT CASE WHEN h_cid <= 0 OR h_label <= 0 THEN 0.0 ELSE
       |    round(CAST(mi6 AS DOUBLE) / sqrt(CAST(h_cid AS DOUBLE) * h_label), 4)
       |  END AS nmi FROM mi, hc, hl),
       |pc AS (
       |  SELECT cid, sum(c) AS n_c, max(c) AS maxc,
       |    first(label ORDER BY c DESC, label ASC) AS top_label
       |  FROM ct GROUP BY 1)
       |SELECT CAST(cid AS BIGINT) AS cid, CAST(n_c AS BIGINT) AS n_c,
       |  CAST(top_label AS BIGINT) AS top_label,
       |  CAST((20000 * maxc + n_c) // (2 * n_c) AS BIGINT) / 10000.0 AS purity,
       |  v.nmi
       |FROM pc, v ORDER BY cid""".stripMargin

  /** Minimum in-cell count before a token can label the cell (X122) —
    * hapax lift is noise, not meaning.
    */
  private[graft] val cellLabelMinCount = 3L

  /** X122 — cluster labeling (`q_cell_labels`): the human-readable
    * step every semantic-curation pipeline runs after clustering —
    * "what IS cell 3?" Per k-means cell, the top-3 member-document
    * tokens ranked by LIFT (in-cell share over corpus share,
    * (c_ct·n)/(n_c·c_t) — plain frequency would label every cell
    * 'the'), counts ≥ [[cellLabelMinCount]] only. The embeddings and
    * documents tables share the id space, so the cell assignment
    * joins onto the text by id — the one corpus-keyed equi-join here
    * (AQE broadcasts the small side at test SFs; at 100 TB it is an
    * honest co-partitioned join, stated in the plan).
    *
    * Numerics: lift is an exact integer rational rounded 4dp HALF_UP
    * (20000·c_ct·n + n_c·c_t) div (2·n_c·c_t); ranking under the
    * total order (lift4 DESC, c_ct DESC, token ASC) — deterministic
    * on both engines. Scale: ONE exchange collapses token
    * occurrences to the (cell, token) dictionary with map-side
    * partials; marginals broadcast; the corpus token total is a
    * one-row scalar aggregate over the ≤K-cell dictionary,
    * cross-joined back as a broadcast (the Search.scala tfidf
    * pattern) — never an empty-partition window over the vocab-sized
    * perTok, which at 100× would drag a 10⁸–10⁹-row web vocabulary
    * onto one task (r17 VERDICT #1); the top-3 window runs over the
    * (cell, token) dictionary only (the "window over aggregate,
    * never the corpus" rule). ClusteringSpec recounts sequentially
    * off the oracle-green assignment + raw text at two SFs.
    */
  private def cellLabels(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        bestCentroid(s, dir).getField("cid").cast("long").as("cid"))
    val toks = graft.Tables.fanOutForCompute(graft.Tables(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(cells, "doc_id")
      .groupBy(col("cid"), col("tok")).agg(count(lit(1)).as("c_ct"))
    val perCell = toks.groupBy(col("cid")).agg(sum(col("c_ct")).as("n_c"))
    // Σ n_c over the ≤K-cell dictionary == the corpus token total;
    // deriving it here (not from perTok) keeps the extra aggregate
    // input K rows, and the shared toks exchange is reused across
    // all three consumers
    val total = perCell.agg(sum(col("n_c")).as("n"))
    val perTok = toks.groupBy(col("tok")).agg(sum(col("c_ct")).as("c_t"))
    val ranked = toks
      .filter(col("c_ct") >= cellLabelMinCount)
      .join(broadcast(perCell), "cid")
      .join(perTok, "tok")
      .crossJoin(broadcast(total))
      .withColumn("lift4", expr(Extensions.sq4(
        "CAST(c_ct AS DECIMAL(38,0)) * n", "CAST(n_c AS DECIMAL(38,0)) * c_t")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("lift4").desc, col("c_ct").desc, col("tok").asc)))
      .filter(col("rank") <= 3)
    ranked.select(col("cid"), col("rank").cast("long").as("rank"), col("tok"),
        col("c_ct").cast("long").as("c_in_cell"),
        (col("lift4") / lit(10000.0)).as("lift"))
      .orderBy("cid", "rank")
  }

  private def cellLabelsSql: String =
    s"""WITH $cellCtes,
       |tk AS (
       |  SELECT c.cid, unnest(string_split(d.text, ' ')) AS tok
       |  FROM documents d JOIN cells c ON c.vec_id = d.doc_id),
       |ct AS (SELECT cid, tok, CAST(count(*) AS BIGINT) AS c_ct FROM tk GROUP BY 1, 2),
       |pc AS (SELECT cid, sum(c_ct) AS n_c FROM ct GROUP BY 1),
       |pt AS (SELECT tok, sum(c_ct) AS c_t, sum(sum(c_ct)) OVER () AS n FROM ct GROUP BY 1),
       |rk AS (
       |  SELECT ct.cid, ct.tok, ct.c_ct,
       |    CAST((20000 * CAST(ct.c_ct AS HUGEINT) * pt.n
       |          + CAST(pc.n_c AS HUGEINT) * pt.c_t)
       |      // (2 * CAST(pc.n_c AS HUGEINT) * pt.c_t) AS BIGINT) AS lift4
       |  FROM ct JOIN pc USING (cid) JOIN pt USING (tok)
       |  WHERE ct.c_ct >= $cellLabelMinCount),
       |w AS (
       |  SELECT *, row_number() OVER (PARTITION BY cid
       |    ORDER BY lift4 DESC, c_ct DESC, tok ASC) AS rank
       |  FROM rk)
       |SELECT CAST(cid AS BIGINT) AS cid, CAST(rank AS BIGINT) AS rank, tok,
       |  c_ct AS c_in_cell, lift4 / 10000.0 AS lift
       |FROM w WHERE rank <= 3 ORDER BY cid, rank""".stripMargin

  /** Power-iteration count for X65. Three rounds is the monitoring
    * depth, not a convergence fixpoint — power iteration contracts
    * geometrically, and the DuckDB oracle unrolls the same three.
    */
  private[graft] val prIters = 3

  /** X65 — PageRank over the near-dup graph (`q_dup_pagerank`): the
    * centrality signal a curation pipeline reads off its own duplicate
    * graph (Brin & Page 1998 on the X5b edge set instead of the web).
    * High-rank nodes are the template/boilerplate HUBS — documents
    * whose near-dup neighborhoods are themselves well-connected — a
    * finer triage signal than raw degree (X42 counts edges; PageRank
    * weighs WHOSE edges) for choosing which cluster exemplars a human
    * reviews first.
    *
    * Engine-portable by integer fixed point end-to-end: ranks live in
    * millionths, each edge contributes `r div deg` (floor division),
    * and the damped update is `150000 div N + (17·Σ) div 20` —
    * 0.85 as the exact rational 17/20, no float anywhere, so the
    * result is independent of partitioning and summation order (the
    * classic distributed-PageRank nondeterminism is float
    * accumulation; the integer image removes it). Every node of the
    * symmetrized graph has out-degree ≥ 1, so there are no dangling
    * nodes and no mass-leak correction term.
    *
    * Scale shape: the edge set is LSH-bounded (collision volume, not
    * corpus-quadratic), localCheckpoint'd ONCE so the three unrolled
    * iterations re-read materialized edges instead of re-running the
    * MinHash build; each iteration is one src-keyed broadcast-free
    * join plus one dst-keyed aggregate whose integer partial sums
    * map-side combine. N and the two rank constants are driver
    * scalars (one bounded count — the K-centroids precedent).
    */
  private def dupPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashPairs(s, dir)
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
    val n = deg.count()
    val r0 = if (n == 0) 0L else 1000000L / n
    val base = if (n == 0) 0L else 150000L / n
    // materialize (src, dst, deg) once: without this every unrolled
    // iteration re-aggregates degree and re-joins it onto the edges
    val ewd = sym.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("doc_id"), lit(r0).as("r"))
    for (_ <- 1 to prIters) {
      ranks = ewd.join(ranks, col("src") === col("doc_id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg((lit(base) + expr("(17 * sum(c)) div 20")).cast("long").as("r"))
        .select(col("dst").as("doc_id"), col("r"))
    }
    deg.select(col("src").as("doc_id"), col("deg"))
      .join(ranks, "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("pr6"))
      .orderBy("doc_id")
  }

  private def pagerankSql: String = {
    def iter(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT e.dst AS doc_id,
         |    CAST(150000 // nn.n + (17 * sum(r.r // d.deg)) // 20 AS BIGINT) AS r
         |  FROM sym e JOIN $prev r ON r.doc_id = e.src
         |  JOIN deg d ON d.src = e.src, nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    s"""WITH ${Dedup.minhashCandSql},
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT v.id_a, v.id_b FROM verified v
       |  JOIN card ca ON ca.doc_id = v.id_a
       |  JOIN card cb ON cb.doc_id = v.id_b
       |  WHERE 10 * v.shared >= 6 * (ca.n + cb.n - v.shared)),
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT d.src AS doc_id, CAST(1000000 // nn.n AS BIGINT) AS r FROM deg d, nn),
       |${iter("r0", "i1")},
       |${iter("i1", "i2")},
       |${iter("i2", "i3")}
       |SELECT d.src AS doc_id, d.deg, i3.r AS pr6
       |FROM deg d JOIN i3 ON i3.doc_id = d.src
       |ORDER BY doc_id""".stripMargin
  }

  /** X71 — per-source embedding centroid vs the corpus centroid
    * (`q_source_centroid`): the SEMANTIC twin of X40/X51's
    * token-distribution source diagnostics — a source whose centroid
    * points away from the corpus (low cosine) or collapses toward a
    * point (norm outlier: machine-generated near-identical pages have
    * a LONG centroid because their vectors agree; diverse human text
    * cancels toward the mean) is flagged before any pairwise work.
    *
    * Numerics — order-free by construction: every component is
    * snapped to integer millionths at the scan (round(x·10⁶), the
    * X51 fixed-point snap), so centroid numerators are EXACT integer
    * sums — partition/accumulation order cannot move them, unlike a
    * double `avg`. The 1/n and 1/N denominators cancel inside cosine
    * (cos(a/n, b/N) = cos(a, b)), so cosine computes directly on the
    * integer sum vectors: products ride DECIMAL(38,0) (gv² ~ 6·10²⁰
    * at sf1 overflows BIGINT — the X63 lesson), and the only floats
    * are final IEEE-exact casts, sqrt, divides, then round-4.
    *
    * Scale shape: one narrow snap+explode pass with map-side partial
    * sums — the shuffle carries |sources|×d integer partials (plan
    * constants), never N×d rows (the X33 argument); everything after
    * the first aggregate runs on the |sources|×d matrix. The
    * doc→source join is id-keyed (in a real layout source rides the
    * embedding row — zero join).
    */
  private def sourceCentroid(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embeddingDims(s, dir)
    val meta = graft.Tables(s, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("source"))
    val sv = e.join(meta, "vec_id")
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("xf")).as("sv"), count(lit(1)).as("nd"))
    // the corpus marginal is ≤ d rows BY CONSTRUCTION — declare the
    // broadcast instead of letting stats guess (a SMJ here costs two
    // pointless exchanges of plan-constant-sized data)
    val g = sv.groupBy(col("dim")).agg(sum(col("sv")).as("gv"))
    sv.join(broadcast(g), "dim")
      .groupBy(col("source"))
      .agg(
        max(col("nd")).cast("long").as("n_docs"),
        sum(dec(col("sv")) * dec(col("gv"))).as("dot"),
        sum(dec(col("sv")) * dec(col("sv"))).as("na"),
        sum(dec(col("gv")) * dec(col("gv"))).as("nb"))
      .select(col("source"), col("n_docs"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 4)
          .as("cos_corpus"),
        round(sqrt(col("na").cast("double")) /
          (col("n_docs").cast("double") * 1000000.0), 4).as("centroid_norm"))
      .orderBy("source")
  }

  private def sourceCentroidSql: String =
    """WITH e AS (
      |  SELECT vec_id, s.i AS dim,
      |    CAST(round(CAST(emb[s.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xf
      |  FROM (SELECT vec_id, embedding AS emb FROM embeddings) t,
      |  LATERAL unnest(generate_series(1, len(emb))) AS s(i)),
      |sv AS (
      |  SELECT d.source, e.dim, CAST(sum(e.xf) AS HUGEINT) AS sv,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM e JOIN documents d ON d.doc_id = e.vec_id
      |  GROUP BY d.source, e.dim),
      |g AS (SELECT dim, CAST(sum(sv) AS HUGEINT) AS gv FROM sv GROUP BY dim),
      |a AS (
      |  SELECT source, CAST(max(nd) AS BIGINT) AS n_docs,
      |    sum(sv * gv) AS dot, sum(sv * sv) AS na, sum(gv * gv) AS nb
      |  FROM sv JOIN g USING (dim) GROUP BY source)
      |SELECT source, n_docs,
      |  round(CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 4) + 0 AS cos_corpus,
      |  round(sqrt(CAST(na AS DOUBLE)) /
      |    (CAST(n_docs AS DOUBLE) * 1000000.0), 4) + 0 AS centroid_norm
      |FROM a ORDER BY source""".stripMargin

  /** X77 — per-source semantic mixture KL (`q_semantic_mix`): X51's
    * fixed-point KL arithmetic pointed at X32's k-means cells instead
    * of the token vocabulary — "does this source COVER the corpus's
    * semantic regions, or camp in a corner of embedding space?" The
    * three source diagnostics now triangulate: X51 = lexical shape,
    * X71 = semantic first moment (centroid), X77 = the full semantic
    * DISTRIBUTION over cells — a source can match the centroid
    * (symmetric bimodal) while its cell histogram screams, and vice
    * versa. KL(p_source ‖ p_corpus) over the K-cell histogram; q = 0
    * impossible (the corpus marginal dominates every source), absent
    * cells contribute 0 by absence.
    *
    * Numerics: X51's discipline verbatim — each p·ln(p/q) term from
    * correctly-rounded IEEE ops on exact integer counts, snapped to
    * 1e-6 fixed point, summed AS INTEGERS (order-free), final round-4
    * HALF_UP in integer space with the sign branch.
    *
    * Scale shape: assignment is the X32 narrow literal-centroid
    * argmin (no join for the centroids), one id-keyed source join,
    * then the corpus collapses to the ǀsourcesǀ×K matrix (map-side
    * partials) and every KL term computes on that — the X51/X40 plan.
    */
  private def semanticMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), bestCentroid(s, dir).getField("cid").cast("long").as("cid"))
    val withSrc = assigned.join(
      graft.Tables(s, dir, "documents").select(col("doc_id").as("vec_id"), col("source")),
      "vec_id")
    val prof = withSrc.groupBy(col("source"), col("cid")).agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ci = prof.groupBy(col("cid")).agg(sum(col("c")).as("ci"))
      .withColumn("tc", sum(col("ci")).over(wAll))
    val ts = prof.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val p = col("c").cast("double") / col("ts")
    val q = col("ci").cast("double") / col("tc")
    prof.join(ci, Seq("cid")).join(ts, Seq("source"))
      .select(col("source"), col("ts"),
        round(lit(1000000.0) * p * log(p / q), 0).cast("long").as("term"))
      .groupBy(col("source"), col("ts"))
      .agg(sum(col("term")).as("t6"))
      // full support (no truncation) ⟹ KL ≥ 0 mathematically, but the
      // per-term snap can leave a tiny negative total on a uniform
      // source — keep X51's sign branch so both engines state it
      .select(col("source"), col("ts").cast("long").as("n_vecs"),
        ((floor((abs(col("t6")) + 50) / 100)
          * when(col("t6") < 0, -1).otherwise(1)).cast("long") / lit(10000.0))
          .as("semantic_kl"))
      .orderBy("source")
  }

  private def semanticMixSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c),
       |a AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |j AS (
       |  SELECT doc.source, a.cid FROM a
       |  JOIN documents doc ON doc.doc_id = a.vec_id
       |  WHERE a.rn = 1),
       |prof AS (
       |  SELECT source, cid, CAST(count(*) AS BIGINT) AS c
       |  FROM j GROUP BY source, cid),
       |ci AS (SELECT cid, sum(c) AS ci, sum(sum(c)) OVER () AS tc FROM prof GROUP BY cid),
       |ts AS (SELECT source, sum(c) AS ts FROM prof GROUP BY source),
       |terms AS (
       |  SELECT p.source, t.ts,
       |    CAST(round(1000000.0 * (CAST(p.c AS DOUBLE) / t.ts)
       |      * ln((CAST(p.c AS DOUBLE) / t.ts) / (CAST(i.ci AS DOUBLE) / i.tc)), 0)
       |      AS BIGINT) AS term
       |  FROM prof p JOIN ci i ON i.cid = p.cid JOIN ts t ON t.source = p.source)
       |SELECT source, CAST(ts AS BIGINT) AS n_vecs,
       |  CAST(floor((abs(sum(term)) + 50) / 100)
       |       * (CASE WHEN sum(term) < 0 THEN -1 ELSE 1 END) AS BIGINT)
       |    / 10000.0 AS semantic_kl
       |FROM terms GROUP BY source, ts ORDER BY source""".stripMargin

  /** X79 — per-source embedding dispersion (`q_source_dispersion`):
    * the second-moment completion of the source-geometry triad (X71 =
    * first moment, X77 = cell histogram): the mean pairwise squared
    * L2 distance among a source's vectors — a machine-generated
    * near-duplicate farm disperses toward 0 while a diverse human
    * slice stays wide, and unlike the centroid NORM this number
    * cannot be fooled by a symmetric bimodal source. SemDeDup (X36)
    * prunes pairs; this is the one-number screen a curator reads
    * FIRST to decide which source even needs pairwise work.
    *
    * The scale story is the operator: the naive plan is an O(n²)
    * self-join per source — dead at 10⁹ docs. The variance identity
    *   Σ_{i<j} ||x_i − x_j||² = n·Σ_i||x_i||² − ||Σ_i x_i||²
    * computes the EXACT same number from one narrow pass: per-dim
    * sums and square-sums with map-side partials; the shuffle
    * carries |sources|×d integer partials (plan constants), and the
    * identity is evaluated on that matrix. ClusteringSpec certifies
    * the identity against a brute-force pairwise recount at
    * sf0.001, exact to the integer.
    *
    * Numerics — the X71/X63 discipline: components snap to integer
    * millionths at the scan, so every sum is exact and order-free;
    * per-element xf² ≤ ~10¹² rides BIGINT, cross-source products and
    * the cross-multiplied rounding ride DECIMAL(38,0) (n·S2 alone
    * passes 10¹⁹ at sf1 shape — the BIGINT cliff); the only float is
    * the final ÷10⁴ presentation cast. Output units are the original
    * embedding scale (the 10¹² snap factor divides out in `den`).
    * Singleton sources have no pairs and are dropped (documented —
    * n(n−1) = 0), never divided by zero.
    */
  private def sourceDispersion(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embeddingDims(s, dir)
    val meta = graft.Tables(s, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("source"))
    e.join(meta, "vec_id")
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("xf")).as("sv"),
        sum(dec(col("xf") * col("xf"))).as("ss"),
        count(lit(1)).as("nd"))
      .groupBy(col("source"))
      .agg(
        max(col("nd")).cast("long").as("n_docs"),
        sum(col("ss")).as("s2"),
        sum(dec(col("sv")) * dec(col("sv"))).as("s1sq"))
      .filter(col("n_docs") >= 2)
      .withColumn("num", (dec(col("n_docs")) * col("s2") - col("s1sq")) * lit(2))
      .withColumn("den",
        dec(col("n_docs")) * (dec(col("n_docs")) - lit(1)) * lit(1000000000000L))
      .withColumn("dnn", dec(col("n_docs")) * lit(1000000000000L))
      .select(col("source"), col("n_docs"),
        Extensions.share4("num", "den").as("mean_pair_d2"),
        Extensions.share4("s2", "dnn").as("mean_norm2"))
      .orderBy("source")
  }

  private def sourceDispersionSql: String =
    """WITH e AS (
      |  SELECT vec_id, s.i AS dim,
      |    CAST(round(CAST(emb[s.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xf
      |  FROM (SELECT vec_id, embedding AS emb FROM embeddings) t,
      |  LATERAL unnest(generate_series(1, len(emb))) AS s(i)),
      |sv AS (
      |  SELECT d.source, e.dim, CAST(sum(e.xf) AS HUGEINT) AS sv,
      |    CAST(sum(CAST(e.xf AS HUGEINT) * e.xf) AS HUGEINT) AS ss,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM e JOIN documents d ON d.doc_id = e.vec_id
      |  GROUP BY d.source, e.dim),
      |a AS (
      |  SELECT source, CAST(max(nd) AS BIGINT) AS n_docs,
      |    sum(ss) AS s2, sum(sv * sv) AS s1sq
      |  FROM sv GROUP BY source),
      |b AS (
      |  SELECT source, n_docs, s2,
      |    2 * (CAST(n_docs AS HUGEINT) * s2 - s1sq) AS num,
      |    CAST(n_docs AS HUGEINT) * (n_docs - 1) * 1000000000000 AS den,
      |    CAST(n_docs AS HUGEINT) * 1000000000000 AS dnn
      |  FROM a WHERE n_docs >= 2)
      |SELECT source, n_docs,
      |  CAST((num * 20000 + den) // (2 * den) AS BIGINT) / 10000.0 AS mean_pair_d2,
      |  CAST((s2 * 20000 + dnn) // (2 * dnn) AS BIGINT) / 10000.0 AS mean_norm2
      |FROM b ORDER BY source""".stripMargin

  /** X84 match threshold: 6 of 64 signature slots (est. Jaccard
    * ≈ 0.094). Chosen so BOTH branches are non-vacuous at both test
    * SFs — multi-node families (a 6-source chain at sf0.01, two
    * pairs at sf0.001) AND singletons — pinned in ClusteringSpec.
    * Integer compare on n_match, never on the rounded estimate.
    */
  private[graft] val familyMinMatch = 6L

  /** X84 — source-family detection (`q_source_family`): X83's
    * overlap matrix thresholded into an undirected graph and resolved
    * by the X21 alternating-star CC machinery — "which sources are
    * the same corpus wearing different names" made into an explicit
    * partition, the input X38's caps and X25's weights actually want
    * (two mirrors should share one cap, not get two). Family id =
    * lexicographically smallest member, singletons are their own
    * family of 1 (every source appears in the output — the keepSql
    * convention).
    *
    * Scale shape: all heavy lifting is X83's ONE sketch pass; the
    * graph CC runs over ≤ǀsourcesǀ² thresholded edges — plan
    * constants — through [[connectedComponents]] (the same
    * large/small-star fixpoint that handles corpus-sized dup graphs,
    * here at toy size). The name↔id mapping is a construction-time
    * collect of ǀsourcesǀ strings (the centroids-class bounded
    * collect), embedded as literal maps.
    */
  private def sourceFamily(s: SparkSession, dir: String): DataFrame = {
    val names = graft.Tables(s, dir, "documents")
      .select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val idx = names.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
    val toIdx = map(names.flatMap(n => Seq(lit(n), lit(idx(n)))): _*)
    val fromIdx = map(names.flatMap(n => Seq(lit(idx(n)), lit(n))): _*)
    val edges = Dedup.sourceOverlap(s, dir)
      .filter(col("n_match") >= familyMinMatch)
      .select(element_at(toIdx, col("source_a")).as("id_a"),
        element_at(toIdx, col("source_b")).as("id_b"))
    val labels = connectedComponents(edges)
      .select(element_at(fromIdx, col("doc_id")).as("source"),
        element_at(fromIdx, col("cluster_id")).as("family"),
        col("cluster_size"))
    graft.Tables(s, dir, "documents").select(col("source")).distinct()
      .join(labels, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("family"), col("source")).as("family"),
        coalesce(col("cluster_size"), lit(1L)).cast("long").as("family_size"))
      .orderBy("source")
  }

  private def sourceFamilySql: String = {
    val hashes = (0 until 64)
      .map(i => s"min(((('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483648) * ${Dedup.soA(i)} + ${Dedup.soB(i)}) % 2147483647) AS h$i")
      .mkString(", ")
    val matches = (0 until 64)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH RECURSIVE t AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |ix AS (SELECT source, w, unnest(generate_series(1, len(w) - 2)) AS i FROM t),
       |shs AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM ix),
       |sig AS (SELECT source, $hashes FROM shs GROUP BY source),
       |e0 AS (
       |  SELECT a.source AS u, b.source AS v
       |  FROM sig a JOIN sig b ON a.source < b.source
       |  WHERE $matches >= $familyMinMatch),
       |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |reach(v, x) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT r.v, e.v FROM reach r JOIN edges e ON e.u = r.x),
       |labels AS (SELECT v AS source, min(x) AS family FROM reach GROUP BY v),
       |sizes AS (SELECT family, count(*) AS fs FROM labels GROUP BY family),
       |alls AS (SELECT DISTINCT source FROM documents)
       |SELECT a.source, COALESCE(l.family, a.source) AS family,
       |  CAST(COALESCE(s2.fs, 1) AS BIGINT) AS family_size
       |FROM alls a LEFT JOIN labels l ON l.source = a.source
       |LEFT JOIN sizes s2 ON s2.family = l.family
       |ORDER BY a.source""".stripMargin
  }

  /** X87 — cross-source duplication-pressure matrix (`q_dup_flow`):
    * X68's verbatim-copy pairs rolled up to the (source, source)
    * grain — WHERE does exact duplication actually flow? X42 counts
    * each source's own casualties and X83 PREDICTS overlap from
    * sketches; this MEASURES the realized copy traffic between
    * source pairs (diagonal = within-source boilerplate/mirroring,
    * off-diagonal = cross-crawl syndication — the pair a curator
    * deduplicates FIRST). Unordered pair key via least/greatest, so
    * each flow appears once.
    *
    * Scale: the heavy lifting is X68's bounded machinery (df-capped
    * positioned-gram join); what rides on top is two id-keyed
    * metadata joins on the PAIR set (bounded by true duplication,
    * never corpus²) and a ≤ǀsourcesǀ² aggregate.
    */
  private def dupFlow(s: SparkSession, dir: String): DataFrame = {
    val m = graft.Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    Dedup.substrPairs(s, dir)
      .join(m.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(m.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max(col("max_run")).cast("long").as("max_shared_run"),
        sum(col("n_shared_grams")).cast("long").as("n_shared_grams"))
      .orderBy("source_a", "source_b")
  }

  private def dupFlowSql: String =
    s"""WITH p AS (
       |${Dedup.substrSql}
       |),
       |srcmap AS (SELECT doc_id, source FROM documents)
       |SELECT least(ma.source, mb.source) AS source_a,
       |  greatest(ma.source, mb.source) AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(max(p.max_run) AS BIGINT) AS max_shared_run,
       |  CAST(sum(p.n_shared_grams) AS BIGINT) AS n_shared_grams
       |FROM p JOIN srcmap ma ON ma.doc_id = p.id_a JOIN srcmap mb ON mb.doc_id = p.id_b
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** X99 — simplified silhouette (`q_silhouette`): the cluster-quality
    * verdict an X32/X33 deployment reads before trusting its cells —
    * SemDeDup pruning, X57 diversity caps and X34 IVF probes all
    * assume the k-means partition MEANS something, and the silhouette
    * is the standard number that says whether it does (points much
    * closer to their own centroid than the runner-up → near 1;
    * arbitrary assignment → near 0). The simplified (centroid-based)
    * form of Rousseeuw 1987: per point, a = distance to its own
    * centroid, b = distance to the second-nearest, s = (b−a)/max(a,b)
    * = 1 − √(d2_own/d2_next) since a ≤ b by construction — the
    * full-pairwise silhouette is Θ(N²) and exactly what a 100 TB run
    * cannot do; the centroid form is the published scale substitute
    * (Hruschka et al.). Output per cell: population and mean s, with
    * the corpus-wide mean riding every row as the one-number verdict
    * (the X96/X98 pattern). On this isotropic corpus the verdict is
    * honestly low (~0.02 — no real cluster structure to find), which
    * is itself the point of the operator: it DETECTS that, where SSE
    * alone cannot (SSE always decreases with K).
    *
    * Numerics: d2 is the X32 round-4 argmin surface, so own/next
    * selection is engine-portable; s = 1 − sqrt(own/next) is one
    * fixed IEEE op sequence (sqrt and / are correctly-rounded in both
    * engines — same input doubles, same bits out), snapped to integer
    * millionths per ROW, summed as integers (order-free), and the two
    * means round-4 by integer HALF_UP (the X51 discipline). The
    * d2_next = 0 degenerate (point equal to two centroids) defines
    * s = 0, the standard convention.
    *
    * Scale shape: the candidate array is K literal structs sorted
    * per row (`array_sort` over a plan-constant array — narrow,
    * codegen'd, no join); the rollup is ONE ≤K-group aggregate with
    * map-side partials, and the corpus mean is a single-partition
    * window over those ≤K rows (the token-budget discipline:
    * empty-partitionSpec windows only ever sit over dictionary-sized
    * aggregates). ONE scan, one exchange; nothing after it exceeds
    * K rows.
    */
  private def silhouette(s: SparkSession, dir: String): DataFrame = {
    val cands = centroids(s, dir).map { case (cid, v) =>
      struct(
        round(VectorOps.l2Sq(col("embedding"), typedlit(v.map(_.toDouble).toSeq)), 4).as("d2"),
        lit(cid).as("cid"))
    }
    val sorted = array_sort(array(cands: _*))
    val own = element_at(sorted, 1)
    val nxt = element_at(sorted, 2)
    val sil = when(nxt.getField("d2") === 0.0, lit(0.0))
      .otherwise(lit(1.0) - sqrt(own.getField("d2") / nxt.getField("d2")))
    val perRow = graft.Tables(s, dir, "embeddings")
      .select(
        own.getField("cid").cast("long").as("cid"),
        round(sil * lit(1000000.0)).cast("long").as("s6"))
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = perRow.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("s6")).as("num"))
    // corpus totals via a window OVER THE ≤K-ROW AGGREGATE (the
    // token-budget discipline: single-partition windows only over
    // dictionary-sized inputs) — one scan, no second derivation of g
    g.withColumn("tn", sum(col("n")).over(wAll))
      .withColumn("tnum", sum(col("num")).over(wAll))
      .select(
        col("cid").cast("long").as("cid"),
        col("n").cast("long").as("n"),
        Extensions.share4("CAST(num AS DECIMAL(38,0))", "CAST(n AS DECIMAL(38,0)) * 1000000")
          .as("mean_sil"),
        Extensions.share4("CAST(tnum AS DECIMAL(38,0))", "CAST(tn AS DECIMAL(38,0)) * 1000000")
          .as("overall_sil"))
      .orderBy("cid")
  }

  private def silhouetteSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $centroidK),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c),
       |r AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |sil AS (
       |  SELECT o.vec_id, o.cid,
       |    CASE WHEN n.d2 = 0 THEN 0.0
       |         ELSE 1.0 - sqrt(o.d2 / n.d2) END AS s
       |  FROM (SELECT * FROM r WHERE rn = 1) o
       |  JOIN (SELECT * FROM r WHERE rn = 2) n USING (vec_id)),
       |s6 AS (SELECT cid, CAST(round(s * 1000000) AS BIGINT) AS s6 FROM sil),
       |g AS (SELECT cid, count(*) AS n, sum(s6) AS num FROM s6 GROUP BY cid),
       |gt AS (SELECT cid, n, num,
       |         sum(n) OVER () AS tn, sum(num) OVER () AS tnum FROM g)
       |SELECT CAST(cid AS BIGINT) AS cid, CAST(n AS BIGINT) AS n,
       |  CAST((CAST(num AS HUGEINT) * 20000 + CAST(n AS HUGEINT) * 1000000)
       |    // (CAST(n AS HUGEINT) * 2000000) AS DOUBLE) / 10000 AS mean_sil,
       |  CAST((CAST(tnum AS HUGEINT) * 20000 + CAST(tn AS HUGEINT) * 1000000)
       |    // (CAST(tn AS HUGEINT) * 2000000) AS DOUBLE) / 10000 AS overall_sil
       |FROM gt ORDER BY cid""".stripMargin

  /** X107 — dedup-discounted effective dataset size (`q_eff_size`):
    * the acquisition number data-constrained scaling actually wants —
    * raw token counts overstate a duplicated corpus (repeated tokens
    * buy less loss reduction; Muennighoff et al.'s decay), so the
    * standard discount weights every document 1/m where m is its
    * X21 duplicate-cluster size: a doc copied 5× contributes each
    * copy at 1/5, total cluster mass 1× — the SOFT version of
    * keep-one dedup (X26 keeps one and drops the rest; 1/m keeps
    * them all at fractional weight, which is what mixture samplers
    * that upsample by source actually consume). Per source: member
    * count, duplicated-member count, raw token mass, effective token
    * mass and the effective ratio — the per-source "how much UNIQUE
    * data is this crawl really" table next to X42's casualty counts.
    *
    * Numerics: per-doc effective tokens in ppm by integer HALF_UP
    * ((tok·2·10⁶ + m) DIV 2m), summed as DECIMAL(38,0) (10¹⁴ corpus
    * tokens × 10⁶ ppm passes BIGINT), both rollup measures round-4
    * in integer space. Hash-identical by construction.
    *
    * Scale shape: memoized CC labels (bounded by dup volume)
    * LEFT-joined by the corpus id stream (the X26/X97 AQE-broadcast
    * shape), one id-keyed metadata join, one ≤|sources| aggregate
    * with map-side partials. No window, nothing corpus-pairwise.
    */
  private def effSize(s: SparkSession, dir: String): DataFrame = {
    val c = Dedup.corpus(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val lab = clusterLabels(s, dir).select(col("doc_id"), col("cluster_size"))
    val meta = graft.Tables(s, dir, "documents")
      .select(col("doc_id").as("src_id"), col("source"))
    c.join(lab, Seq("doc_id"), "left")
      .withColumn("m", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("src_id",
        when(col("doc_id") >= 200000, col("doc_id") - 200000).otherwise(col("doc_id")))
      .join(meta, "src_id")
      .withColumn("ppm", expr(Extensions.sq4("100 * tok", "m")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_members"),
        sum(when(col("m") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_members"),
        sum(col("tok")).cast("long").as("n_tokens"),
        sum(col("ppm").cast("decimal(38,0)")).as("eff_ppm"))
      .select(col("source"), col("n_members"), col("n_dup_members"), col("n_tokens"),
        Extensions.share4("eff_ppm", "1000000").as("eff_tokens"),
        Extensions.share4("eff_ppm", "CAST(n_tokens AS DECIMAL(38,0)) * 1000000")
          .as("eff_ratio"))
      .orderBy("source")
  }

  private def effSizeSql: String =
    s"""$clusterChainSql,
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1),
       |lm AS (SELECT l.doc_id, sz.cluster_size FROM labels l JOIN sz USING (cluster_id)),
       |t AS (
       |  SELECT c.doc_id, CAST(len(string_split(c.text, ' ')) AS BIGINT) AS tok,
       |    COALESCE(lm.cluster_size, 1) AS m,
       |    CASE WHEN c.doc_id >= 200000 THEN c.doc_id - 200000 ELSE c.doc_id END AS src_id
       |  FROM corpus c LEFT JOIN lm ON lm.doc_id = c.doc_id),
       |g AS (
       |  SELECT d.source, count(*) AS n_members,
       |    sum(CASE WHEN t.m > 1 THEN 1 ELSE 0 END) AS n_dup_members,
       |    sum(t.tok) AS n_tokens,
       |    sum(CAST((t.tok * 2000000 + t.m) // (2 * t.m) AS HUGEINT)) AS eff_ppm
       |  FROM t JOIN documents d ON d.doc_id = t.src_id GROUP BY 1)
       |SELECT source, CAST(n_members AS BIGINT) AS n_members,
       |  CAST(n_dup_members AS BIGINT) AS n_dup_members,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST((eff_ppm * 20000 + 1000000) // 2000000 AS BIGINT) / 10000.0 AS eff_tokens,
       |  CAST((eff_ppm * 20000 + CAST(n_tokens AS HUGEINT) * 1000000)
       |    // (2 * CAST(n_tokens AS HUGEINT) * 1000000) AS BIGINT) / 10000.0 AS eff_ratio
       |FROM g ORDER BY source""".stripMargin

  /** X134's per-cell budget — the M each cell may contribute to the
    * curated index. Sized against the shipped corpus (kept middles run
    * 34–63 per cell across the verification SFs) so the cap BINDS in
    * most cells and does NOT in the smallest at BOTH SFs — both keep
    * branches live everywhere the driver verifies, the X57 sizing
    * lesson; EmbedPipelineSpec pins both per SF.
    */
  private[graft] val embedPipeM = 44L

  /** X134 core — the embedding-curation fate table off an explicit
    * (vec_id, embedding) frame and centroid set. Factored so
    * ClusteringSpec can drive the broken-norm gate (the live corpus is
    * norm-healthy — X127) and a tiny-cell cap-no-bind layout through
    * the SAME machinery.
    *
    * Stage chain, each the DECLARED operator's factored body pointed
    * at the previous stage's survivors:
    *  1. norm gate (X127): ppm-snapped ‖x‖², in-band = ǀn2−10⁶ǀ ≤ 10⁵;
    *  2. cell assignment (X32): literal-centroid compare-on-rounded
    *     argmin — computed IN THE SAME narrow pass as the norm (the
    *     one-scan discipline), dropped for norm-failed rows;
    *  3. per-cell decile prune (X113): exact order statistic under
    *     (d2, vec_id) via [[Extensions.rankedByRange]] — verdict
    *     1 prototype / 2 outlier / 0 keep;
    *  4. per-cell cap (X57's budget shape): the kept middle ranked by
    *     vec_id (reproducible, hash-free), admitted while rank ≤ M.
    * `kept` = in-band ∧ verdict 0 ∧ under cap; every stage's evidence
    * rides the row, NULL past the stage that dropped it — the vector
    * side's fate table, as [[Pipeline]] is the text side's.
    *
    * Scale shape: embeddings read ONCE (norm + argmin share the scan,
    * localCheckpoint materializes — the q_pipeline discipline,
    * spec-pinned); both rankings are range exchanges (no task sorts a
    * whole cell), cell counts a ≤K broadcast, verdicts joined back by
    * the unique vec_id (AQE-broadcastable, bounded by survivors).
    */
  private[graft] def embedPipelineOf(
      emb: DataFrame, cents: Seq[(Long, Array[Double])], m: Long): DataFrame = {
    val best = bestCentroidOf(cents)
    val n2ppm = round(VectorOps.normSq(col("embedding")) * 1000000.0, 0)
      .cast("long")
    val scanned = emb.select(
      col("vec_id"), n2ppm.as("n2"),
      best.getField("cid").cast("long").as("cid"),
      best.getField("d2").as("d2"))
      .withColumn("norm_ok",
        (abs(col("n2") - 1000000L) <= 100000L).cast("long"))
      .localCheckpoint(true)
    val surv = scanned.filter(col("norm_ok") === 1)
      .select(col("vec_id"), col("cid"), col("d2"))
    val rk = Extensions.rankedByRange(
      surv.select(col("cid"), col("d2"), col("vec_id")),
      "cid", Seq("d2", "vec_id"), "rk")
    val cnt = surv.groupBy(col("cid")).agg(count(lit(1)).cast("long").as("n"))
    val vd = rk.join(broadcast(cnt), "cid")
      .withColumn("cut", expr("(n + 9) div 10"))
      .select(col("vec_id"), col("cid"), col("d2"), col("n"),
        col("rk").cast("long").as("rk"),
        when(col("rk") <= col("cut"), lit(1L))
          .when(col("rk") >= col("n") - col("cut") + 1, lit(2L))
          .otherwise(lit(0L)).as("verdict"))
      .localCheckpoint(true)
    val cap = Extensions.rankedByRange(
      vd.filter(col("verdict") === 0L).select(col("cid"), col("vec_id")),
      "cid", Seq("vec_id"), "cap_rank")
      .select(col("vec_id"), col("cap_rank").cast("long").as("cap_rank"))
    scanned.select(col("vec_id"), col("norm_ok"))
      .join(vd.drop("cut"), Seq("vec_id"), "left")
      .join(cap, Seq("vec_id"), "left")
      .select(col("vec_id"), col("norm_ok"),
        col("cid"), col("d2"), col("n"), col("rk"), col("verdict"),
        col("cap_rank"),
        when(col("norm_ok") === 1 && col("verdict") === 0L
          && col("cap_rank") <= m, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }

  /** X136's coreset size — matches K so the selection is comparable
    * against the k-means strata the other embedding operators use.
    */
  private[graft] val coresetK = 8

  /** X136 core — greedy k-center (Gonzalez) selection off an explicit
    * (vec_id, embedding) frame. Factored so ClusteringSpec can drive
    * the planted-blobs coverage-collapse property through the SAME
    * machinery.
    *
    * The classic farthest-point traversal: seed = the max-‖x‖² vector
    * (min vec_id among ties — a declared deterministic start), then
    * K−1 times pick the vector FARTHEST from its nearest chosen
    * center (max d_min, min vec_id tie). Every distance is the
    * compare-on-rounded 4dp d² (the X32 discipline) so the pick
    * sequence is engine-portable; `least` over the chosen set equals
    * the oracle's incrementally-maintained running minimum because
    * min is associative over the same rounded per-center distances.
    *
    * Scale shape: the embeddings projection is localCheckpointed ONCE
    * (parquet read exactly once — spec-pinned); each of the K
    * selection passes and the final coverage pass is ONE narrow
    * argmax/max aggregate over the checkpoint with map-side partials
    * (the driver holds K ids and K d-dim vectors — the k-means
    * centroid-literal discipline, K·d doubles, never corpus data).
    * Distances to all chosen centers are recomputed per pass
    * (K²N/2 codegen'd d² evaluations total) rather than materializing
    * a running d_min column — stateless passes beat K intermediate
    * writes at this K; a K≫10² run flips that trade and persists the
    * running minimum like a Lloyd iteration would.
    */
  private[graft] def coresetOf(emb: DataFrame, k: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val chk = emb.select(col("vec_id"), col("embedding")).localCheckpoint(true)
    // OPTIMIZATION r20: the selected vector rides the SAME struct-max
    // aggregate that picks it (as a trailing struct field — vec_id is
    // unique, so the comparison never reaches it), so each Gonzalez
    // round is ONE job instead of two (argmax + a separate fetch-by-id
    // scan). Selection and tie-breaks are bit-identical.
    def vecOf(row: org.apache.spark.sql.Row, i: Int): Array[Double] =
      row.getSeq[Float](i).map(_.toDouble).toArray
    val n2ppm = round(VectorOps.normSq(col("embedding")) * 1000000.0, 0).cast("long")
    val seedRow = chk.agg(max(struct(n2ppm.as("n2"), (-col("vec_id")).as("nid"),
      col("embedding").as("emb"))).as("m"))
      .select(col("m.nid"), col("m.emb")).head
    val seed = -seedRow.getLong(0)
    var chosen = Vector(seed -> vecOf(seedRow, 1))
    var picks = Vector[(Long, Long, Option[Double])]((1L, seed, None))
    def dmin(cs: Seq[(Long, Array[Double])]) = {
      val ds = cs.map { case (_, v) =>
        round(VectorOps.l2Sq(col("embedding"), typedlit(v.toSeq)), 4)
      }
      if (ds.size == 1) ds.head else least(ds: _*)
    }
    for (r <- 2 to k) {
      val row = chk.agg(
        max(struct(dmin(chosen).as("d"), (-col("vec_id")).as("nid"),
          col("embedding").as("emb"))).as("m"))
        .select(col("m.d"), col("m.nid"), col("m.emb")).head
      val (rad, id) = (row.getDouble(0), -row.getLong(1))
      chosen = chosen :+ (id -> vecOf(row, 2))
      picks = picks :+ ((r.toLong, id, Some(rad)))
    }
    val finalRadius = chk.agg(max(dmin(chosen))).head.getDouble(0)
    picks.map { case (r, id, rad) => (r, id, rad, finalRadius) }
      .toDF("sel_rank", "vec_id", "radius", "final_radius")
      .orderBy("sel_rank")
  }

  /** X136 — greedy k-center coreset (`q_coreset`): the geometric
    * data-selection pass (facility location / active-learning
    * acquisition): K vectors such that every corpus vector is within
    * `final_radius` of a chosen one — Gonzalez's farthest-point
    * traversal, whose radius is a 2-approximation of the best
    * possible K-cover. The selection table carries the coverage
    * evidence: `radius` at each pick is the corpus's worst uncovered
    * distance BEFORE that center joined (non-increasing by
    * construction — the spec pins the monotone chain), and
    * `final_radius` ≤ the last pick's radius rides every row as the
    * cover guarantee a downstream consumer (diverse finetuning set,
    * landmark index, annotation budget) reads.
    */
  private def coreset(s: SparkSession, dir: String): DataFrame =
    coresetOf(
      graft.Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      coresetK)

  private def coresetSql: String = {
    def l2(a: String, b: String): String =
      s"""round(list_sum(list_transform(list_zip($a, $b),
         |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4)""".stripMargin
    val seed =
      s"""p1 AS MATERIALIZED (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, CAST(round(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000.0) AS BIGINT) AS n2
         |    FROM e) t
         |  ORDER BY n2 DESC, vec_id LIMIT 1),
         |d1 AS MATERIALIZED (
         |  SELECT e.vec_id, ${l2("e.embedding", "c.embedding")} AS dmin
         |  FROM e, (SELECT e2.embedding FROM e e2, p1 WHERE e2.vec_id = p1.vec_id) c)"""
        .stripMargin
    val steps = (2 to coresetK).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT vec_id, dmin FROM d${i - 1} ORDER BY dmin DESC, vec_id LIMIT 1),
         |d$i AS MATERIALIZED (
         |  SELECT d.vec_id, least(d.dmin, ${l2("e.embedding", "c.embedding")}) AS dmin
         |  FROM d${i - 1} d JOIN e ON e.vec_id = d.vec_id,
         |       (SELECT e2.embedding FROM e e2, p$i WHERE e2.vec_id = p$i.vec_id) c)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (2 to coresetK).map { i =>
      s"SELECT CAST($i AS BIGINT) AS sel_rank, p$i.vec_id, p$i.dmin AS radius, fr.final_radius FROM p$i, fr"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |$seed,
       |$steps,
       |fr AS (SELECT max(dmin) AS final_radius FROM d$coresetK)
       |SELECT CAST(1 AS BIGINT) AS sel_rank, p1.vec_id, CAST(NULL AS DOUBLE) AS radius,
       |  fr.final_radius
       |FROM p1, fr
       |UNION ALL
       |$rows
       |ORDER BY sel_rank""".stripMargin
  }

  /** X134 — composed embedding-curation pipeline (`q_embed_pipeline`):
    * the vector corpus's production curation DAG as ONE plan — the
    * [[Pipeline]] mandate applied to the embedding side: what a real
    * index build runs between "a new embedding shipment landed" and
    * "these vectors enter the ANN index / training mix", with every
    * stage's verdict on the row (the fate table a curator reads).
    */
  private def embedPipeline(s: SparkSession, dir: String): DataFrame =
    embedPipelineOf(
      graft.Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      centroids(s, dir).map { case (cid, v) => cid -> v.map(_.toDouble) },
      embedPipeM)

  private def embedPipelineSql: String =
    s"""WITH $cellCtes,
       |nv AS (
       |  SELECT vec_id, CAST(round(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000.0) AS BIGINT) AS n2
       |  FROM embeddings),
       |ok AS (
       |  SELECT vec_id,
       |    CASE WHEN abs(n2 - 1000000) <= 100000 THEN 1 ELSE 0 END AS norm_ok
       |  FROM nv),
       |surv AS MATERIALIZED (
       |  SELECT c.vec_id, c.cid, c.d2
       |  FROM cells c JOIN ok USING (vec_id) WHERE ok.norm_ok = 1),
       |rk AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk
       |  FROM surv),
       |cn AS (SELECT cid, count(*) AS n FROM surv GROUP BY 1),
       |vd AS MATERIALIZED (
       |  SELECT r.vec_id, r.cid, r.d2, c.n, r.rk,
       |    CASE WHEN r.rk <= (c.n + 9) // 10 THEN 1
       |         WHEN r.rk >= c.n - (c.n + 9) // 10 + 1 THEN 2
       |         ELSE 0 END AS verdict
       |  FROM rk r JOIN cn c USING (cid)),
       |cap AS (
       |  SELECT vec_id, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS cap_rank
       |  FROM vd WHERE verdict = 0)
       |SELECT ok.vec_id, CAST(ok.norm_ok AS BIGINT) AS norm_ok,
       |  CAST(vd.cid AS BIGINT) AS cid, vd.d2, CAST(vd.n AS BIGINT) AS n,
       |  CAST(vd.rk AS BIGINT) AS rk, CAST(vd.verdict AS BIGINT) AS verdict,
       |  CAST(cap.cap_rank AS BIGINT) AS cap_rank,
       |  CAST(CASE WHEN ok.norm_ok = 1 AND vd.verdict = 0
       |            AND cap.cap_rank <= $embedPipeM
       |       THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM ok
       |LEFT JOIN vd USING (vec_id)
       |LEFT JOIN cap USING (vec_id)
       |ORDER BY ok.vec_id""".stripMargin

  /** X153 — duplicate-cluster size distribution (`q_cluster_sizes`):
    * the release-notes histogram of HOW the corpus duplicates — X21
    * labels the clusters, X42 counts each source's casualties, X107
    * discounts the mass; what a release card states is the SHAPE:
    * how many clusters of 2, of 3–4, of 5–8…, how much of the corpus
    * sits in them, and how big the worst one is (a 10 000-copy
    * cluster and ten thousand pairs both read "50% duplicated" in
    * aggregate but demand opposite remediations — keep-one dedup vs
    * template/boilerplate investigation upstream). Per size bucket
    * (exact 1–4, then power-of-two ranges, 33+ absorbing the tail —
    * the riding `top_cluster` carries the extreme exactly): clusters,
    * docs, the 4dp corpus share; riding every row: the largest
    * cluster and the duplicated-doc share (docs in clusters ≥ 2).
    * Singletons are the corpus anti-joined against the labels — CC
    * emits only paired docs, so size-1 "clusters" exist only by
    * subtraction, and the histogram must state them or the shares
    * lie (the X101 absent-cell lesson).
    *
    * Scale: the cluster dictionary is dup-volume-bounded; the
    * anti-join is the X26 corpus-stream shape (AQE-broadcast
    * labels); the histogram is a ≤9-bucket aggregate + windows over
    * it. One corpus scan, no pairwise work.
    */
  private def clusterSizes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dict = clusterLabels(s, dir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .select(col("cluster_size").as("sz"))
    val singles = Dedup.corpus(s, dir).select(col("doc_id"))
      .join(clusterLabels(s, dir).select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(lit(1L).as("sz"))
    dict.unionByName(singles)
      .groupBy(sizeBucket)
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("mx"))
      .withColumn("tot", sum(col("n_docs")).over(wAll))
      .withColumn("dup", sum(when(col("bucket_lo") === 1, 0L)
        .otherwise(col("n_docs"))).over(wAll))
      .select(
        col("bucket_lo"),
        col("n_clusters").cast("long").as("n_clusters"),
        col("n_docs").cast("long").as("n_docs"),
        totShare("n_docs").as("doc_share"),
        max(col("mx")).over(wAll).cast("long").as("top_cluster"),
        totShare("dup").as("dup_doc_share"))
      .orderBy("bucket_lo")
  }

  /** X153's size bucket `bucket_lo` of a cluster of `sz` docs: exact
    * 1–4, then 5–8, 9–16, 17–32 and 33+, named by the lower bound.
    * Shared by [[clusterSizes]] and `Gateway.clusterSizesFeed`.
    */
  private[graft] def sizeBucket: Column =
    expr("CASE WHEN sz <= 4 THEN sz WHEN sz <= 8 THEN 5 " +
      "WHEN sz <= 16 THEN 9 WHEN sz <= 32 THEN 17 ELSE 33 END").cast("long").as("bucket_lo")

  /** X153's share of the `tot` docs held by `num` docs, 4dp HALF_UP. */
  private[graft] def totShare(num: String): Column =
    Extensions.share4(num, "tot")

  private def clusterSizesSql: String =
    s"""$clusterChainSql,
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1),
       |allc AS (
       |  SELECT sz FROM sizes
       |  UNION ALL
       |  SELECT 1 AS sz FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id
       |  WHERE l.doc_id IS NULL),
       |h AS (
       |  SELECT CASE WHEN sz <= 4 THEN sz WHEN sz <= 8 THEN 5
       |         WHEN sz <= 16 THEN 9 WHEN sz <= 32 THEN 17 ELSE 33 END AS bucket_lo,
       |    count(*) AS n_clusters, sum(sz) AS n_docs, max(sz) AS mx
       |  FROM allc GROUP BY 1)
       |SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo,
       |  CAST(n_clusters AS BIGINT) AS n_clusters,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST((20000 * n_docs + sum(n_docs) OVER ())
       |    // (2 * sum(n_docs) OVER ()) AS BIGINT) / 10000.0 AS doc_share,
       |  CAST(max(mx) OVER () AS BIGINT) AS top_cluster,
       |  CAST((20000 * sum(CASE WHEN bucket_lo = 1 THEN 0 ELSE n_docs END) OVER ()
       |        + sum(n_docs) OVER ())
       |    // (2 * sum(n_docs) OVER ()) AS BIGINT) / 10000.0 AS dup_doc_share
       |FROM h ORDER BY bucket_lo""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_cluster_sizes" -> QueryDef(
      clusterSizes,
      Some(clusterSizesSql),
      "X153 dup-cluster size distribution: per size bucket, clusters/docs/share + top cluster and dup share"),
    "q_dedup_cluster" -> QueryDef(
      dedupCluster,
      Some(clusterSql),
      "X21 duplicate clusters: alternating-star connected components over near-dup pairs"),
    "q_dedup_keep" -> QueryDef(
      dedupKeep,
      Some(keepSql),
      "X26 dedup survivorship: per-doc canonical cluster and keep/drop verdict"),
    "q_dedup_rep" -> QueryDef(
      dedupRep,
      Some(dedupRepSql),
      "X90 quality-keyed cluster representative: keep-the-longest per dup cluster vs X26's min-id"),
    "q_dup_stats" -> QueryDef(
      dupStats,
      Some(dupStatsSql),
      "X42 per-source duplication diagnostics: docs/dropped/dup-rate by crawl source"),
    "q_embed_prune" -> QueryDef(
      embedPrune,
      Some(embedPruneSql),
      "X113 prototype/outlier pruning: per-cell exact decile cuts on centroid distance, D4-style"),
    "q_sem_diversity" -> QueryDef(
      semDiversity,
      Some(semDiversitySql),
      "X115 per-slice semantic diversity: cell-distribution entropy + dominant-cell share per label"),
    "q_cluster_nmi" -> QueryDef(
      clusterNmi,
      Some(clusterNmiSql),
      "X116 cluster-label agreement: per-cell purity + corpus NMI off the K×L contingency matrix"),
    "q_cell_labels" -> QueryDef(
      cellLabels,
      Some(cellLabelsSql),
      "X122 cluster labeling: top-3 lift-ranked member tokens per k-means cell"),
    "q_kmeans_assign" -> QueryDef(
      kmeansAssign,
      Some(kmeansSql),
      "X32 k-means cluster assignment: nearest of K literal centroids, narrow argmin"),
    "q_kmeans_update" -> QueryDef(
      kmeansUpdate,
      Some(kmeansUpdateSql),
      "X33 k-means centroid update: per-cluster per-dimension means, partial-agg before shuffle"),
    "q_kmeans_lloyd" -> QueryDef(
      kmeansLloyd,
      Some(kmeansLloydSql),
      "X32+X33 composed Lloyd loop: 3 iterations vs the unrolled oracle, means + scaled SSE"),
    "q_cluster_sample" -> QueryDef(
      clusterSample,
      Some(clusterSampleSql),
      "X57 cluster-balanced sampling: at most M vectors per k-means cell, hash-uniform pick"),
    "q_dup_pagerank" -> QueryDef(
      dupPagerank,
      Some(pagerankSql),
      "X65 near-dup graph PageRank: integer fixed-point damped power iteration, 3 rounds"),
    "q_source_centroid" -> QueryDef(
      sourceCentroid,
      Some(sourceCentroidSql),
      "X71 per-source embedding centroid vs corpus: integer-snapped sums, decimal cosine"),
    "q_semantic_mix" -> QueryDef(
      semanticMix,
      Some(semanticMixSql),
      "X77 per-source semantic mixture KL over k-means cells, fixed-point integer sum"),
    "q_source_dispersion" -> QueryDef(
      sourceDispersion,
      Some(sourceDispersionSql),
      "X79 per-source embedding dispersion: exact mean pairwise d2 via the variance identity"),
    "q_source_family" -> QueryDef(
      sourceFamily,
      Some(sourceFamilySql),
      "X84 source families: X83 overlap graph thresholded, X21 CC labels, singletons kept"),
    "q_dup_flow" -> QueryDef(
      dupFlow,
      Some(dupFlowSql),
      "X87 cross-source duplication-pressure matrix over the X68 exact-copy pairs"),
    "q_silhouette" -> QueryDef(
      silhouette,
      Some(silhouetteSql),
      "X99 simplified silhouette: per-cell and corpus cluster-quality verdict, integer-space means"),
    "q_eff_size" -> QueryDef(
      effSize,
      Some(effSizeSql),
      "X107 effective dataset size: 1/cluster-size token discounting per source, integer ppm"),
    "q_embed_pipeline" -> QueryDef(
      embedPipeline,
      Some(embedPipelineSql),
      "X134 composed embedding pipeline: norm gate -> cell assign -> decile prune -> per-cell cap, one scan"),
    "q_coreset" -> QueryDef(
      coreset,
      Some(coresetSql),
      "X136 greedy k-center coreset: farthest-point selection with per-pick radius + cover guarantee"),
  )
}
