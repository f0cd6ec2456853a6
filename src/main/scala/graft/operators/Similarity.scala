package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Extensions.dec

import scala.collection.immutable.ListMap

/** Approximate nearest-neighbour search over the embedding column
  * (SURVEY.md §2.5 X4's scale path). Brute force (Extensions.simCosine)
  * stays the correctness baseline; this module is the bucketed probe:
  * sign-LSH with OR-amplification — TWO independent 4-plane sets (16
  * buckets each), each probed at its query bucket plus the 4 Hamming-1
  * neighbours, candidates the UNION of both probes. Isotropic
  * synthetic vectors are the LSH worst case (no cluster structure), so
  * one plane set measures recall@10 of 5/10 here; the second set is
  * the standard OR-amplification recall lever — it multiplies PROBES
  * (2× fixed work), never N — and lifts measured recall@10 to 6/10
  * at both sf0.001 and sf0.01. SimilaritySpec pins that the amplified
  * recall dominates the single-set probe.
  *
  * Scale notes (100 TB): each probe is a broadcast semi-join of the
  * candidate buckets against the (bucket-partitioned) vector table —
  * only probed partitions are read when the table is written
  * partitioned/bucketed by the LSH keys, which is the layout this
  * operator assumes at scale; the union dedup shuffles candidate rows
  * only. Scoring reuses the codegen'd VectorOps HOFs — no UDF
  * anywhere.
  */
object Similarity {

  /** Two independent sign-LSH plane sets (axis-aligned, disjoint
    * coordinates of the 64-dim embedding): 16 buckets each. Probing
    * the union of both is OR-amplification — a true neighbour is
    * missed only if it straddles >1 plane in BOTH sets.
    */
  private[graft] val planeSets: Seq[Seq[(Int, Int)]] = Seq(
    Seq(1 -> 1, 17 -> 2, 33 -> 4, 49 -> 8),
    Seq(9 -> 1, 25 -> 2, 41 -> 4, 57 -> 8))

  /** Sign-LSH bucket for one plane set. The same expression computes
    * the build-side key and the query-side key.
    */
  def bucketOf(emb: Column, planes: Seq[(Int, Int)]): Column =
    planes
      .map { case (d, w) => when(element_at(emb, d) > 0, lit(w)).otherwise(lit(0)) }
      .reduce(_ + _)

  /** First-set bucket (the single-probe baseline SimilaritySpec
    * measures OR-amplification against).
    */
  def bucketOf(emb: Column): Column = bucketOf(emb, planeSets.head)

  /** The query vector, fetched ONCE per (session, dir) at query-build
    * time. A vector-search API takes the query as a PARAMETER, not as
    * a table row: with q a plan literal, (a) the probe stage becomes
    * `bucket IN (<literal keys>)` — a pushable filter that prunes
    * partitions/buckets on a bucketed layout instead of a broadcast
    * join against the whole corpus scan, (b) Catalyst constant-folds
    * the query-side norm out of the per-row cosine, and (c) the
    * ScoredTopKPushdown strategy can read the query constants at plan
    * time and early-abandon scoring (graft.plans.ScoredTopK). Note
    * the one-row fetch is an eager Spark job at query CONSTRUCTION.
    */
  private[graft] def queryVec(s: SparkSession, dir: String): Array[Float] =
    SessionMemo(s, dir, "query_vec") {
      Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head(1).headOption
        .map(_.getSeq[Float](0).toArray)
        .getOrElse(throw new IllegalArgumentException(
          s"query vector row (vec_id = 0) not found in $dir/embeddings — " +
            "the similarity queries take their query vector from that row"))
    }

  /** The Hamming-≤1 probe keys for one plane set: the query's bucket
    * plus each one-plane flip — 1 + |planes| literal ints. Because
    * they are PLAN LITERALS, on a layout partitioned or bucketed by
    * the LSH key they are exactly the partition values a pruned scan
    * reads (SimilaritySpec pins partitions-read == probed buckets on
    * a real partitioned write of this corpus).
    */
  private[graft] def probeKeys(s: SparkSession, dir: String, ps: Seq[(Int, Int)]): Seq[Int] = {
    val q = queryVec(s, dir)
    val qb = ps.map { case (d, w) => if (q(d - 1) > 0) w else 0 }.sum
    (0 +: ps.map(_._2)).map(qb ^ _)
  }

  /** Shared probe stage: candidates whose bucket, in AT LEAST ONE
    * plane set, lies within Hamming-1 of the query's bucket — an
    * IN-list filter per set, OR-ed (the OR-amplification), no join and
    * no dedup (one scan emits each candidate once). Parameterized by
    * the plane sets so the spec can compare 1-set and 2-set probes on
    * identical machinery. On a layout partitioned/bucketed by the LSH
    * keys each IN-list prunes to the probed buckets.
    */
  private[graft] def probedCandidates(
      s: SparkSession, dir: String,
      sets: Seq[Seq[(Int, Int)]] = planeSets): DataFrame = {
    val e = sets.zipWithIndex.foldLeft(Tables(s, dir, "embeddings")) {
      case (d, (ps, i)) => d.withColumn(s"b$i", bucketOf(col("embedding"), ps))
    }
    val cond = sets.zipWithIndex.map { case (ps, i) =>
      col(s"b$i").isin(probeKeys(s, dir, ps): _*)
    }.reduce(_ || _)
    e.filter(col("vec_id") =!= 0 && cond)
      .select(col("vec_id"), col("label"), col("embedding"))
  }

  /** The literal query-vector column for scoring (see [[queryVec]]). */
  private def qLit(s: SparkSession, dir: String): Column =
    typedlit(queryVec(s, dir))

  /** X4-scale — multi-probe bucketed cosine top-10 for the query
    * vector over the OR-amplified candidate union. The top-K plans
    * through [[graft.plans.ScoredTopKPushdown]]: per-partition bounded
    * heap with early-abandoned scoring below the running 10th-best
    * cosine bound.
    */
  private def simBucketed(s: SparkSession, dir: String): DataFrame =
    probedCandidates(s, dir)
      .select(
        col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), qLit(s, dir)), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)

  /** X4-scale L2 variant (`q_sim_l2`) — nearest-10 by squared
    * Euclidean distance over the same probed candidates (squared form:
    * cheaper than L2, identical ordering). Distance pipelines (k-NN
    * dedup, outlier screens) want L2; cosine and L2 share the probe
    * machinery, and the pushdown's early abandonment is strongest
    * here (the partial sum is itself the bound).
    */
  private def simL2(s: SparkSession, dir: String): DataFrame =
    probedCandidates(s, dir)
      .select(
        col("vec_id"), col("label"),
        round(VectorOps.l2Sq(col("embedding"), qLit(s, dir)), 4).as("dist_sq"))
      .orderBy(col("dist_sq").asc, col("vec_id").asc)
      .limit(10)

  /** IVF variant of the same probe idea: coarse-quantize with
    * distributed k-means (no driver-side collect of the corpus — the
    * model holds k centroids only), then score just the query's cell.
    * Deterministic per session (fixed seed) but k-means float
    * reductions are not cross-engine reproducible, so this is
    * ScalaTest-verified (invariants + recall), not oracle-declared —
    * the sign-LSH path above is the hash-checked one.
    *
    * Returns (clustered corpus, top-k of the query's cell).
    */
  def ivfTopK(s: SparkSession, dir: String, k: Int = 10, nCells: Int = 8): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables(s, dir, "embeddings")
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(nCells).setSeed(42L).setFeaturesCol("features").fit(e)
    val clustered = model.transform(e).withColumnRenamed("prediction", "cell")
    val q = clustered.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("cell"))
    val topk = clustered.filter(col("vec_id") =!= 0)
      .join(broadcast(q), "cell")
      .select(
        col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
    (clustered, topk)
  }

  /** IVF probe width: cells searched per query. 2 of 8 cells ⇒ ~25 %
    * of the corpus scored — the recall/cost knob every IVF index
    * exposes (`nprobe`).
    */
  private[graft] val ivfNProbe = 2

  /** The query's `ivfNProbe` nearest coarse cells, by the SAME
    * round-4-then-(d2, cid) rule as the X32 assignment — computed
    * driver-side from the two memoized vectors sets (K centroids +
    * query), so the probe list enters the plan as literals, exactly
    * like the sign-LSH probe keys.
    */
  private[graft] def ivfProbeCells(
      s: SparkSession, dir: String, nProbe: Int = ivfNProbe): Seq[Long] = {
    val q = queryVec(s, dir)
    Clustering.centroids(s, dir)
      .map { case (cid, c) =>
        var d = 0.0
        var i = 0
        while (i < q.length) { val t = q(i).toDouble - c(i).toDouble; d += t * t; i += 1 }
        (BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, cid)
      }
      .sorted.take(nProbe).map(_._2)
  }

  /** X34 — IVF (inverted-file) cosine top-10: the OTHER standard ANN
    * scale path beside sign-LSH — coarse-quantize every vector to its
    * nearest of K fixed centroids (the X32 argmin, engine-portable by
    * the round-4 rule), probe the query's `ivfNProbe` nearest cells,
    * brute-force only those. Upgrades the ML-KMeans [[ivfTopK]]
    * companion to a hash-checked declared query: trained centroids
    * are not cross-engine reproducible, FIXED centroids are — a real
    * deployment refreshes them offline (X33) and ships them as
    * config, which is exactly how production IVF indexes work.
    *
    * Scale shape (100 TB): cell assignment is narrow literal-centroid
    * work (no join); on a layout partitioned by the cell id — which a
    * real deployment writes, since the cell IS the index — the probe
    * filter is an IN-list of literal cids, partition-prunable like
    * the X7 bucket probe (SimilaritySpec pins partitions-read ==
    * probed cells on a real partitioned write). Candidates are
    * ~nprobe/K of the corpus; the top-10 plans through
    * [[graft.plans.ScoredTopKPushdown]] like every scoring path.
    */
  private def simIvf(s: SparkSession, dir: String): DataFrame = {
    val cells = ivfProbeCells(s, dir)
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0 &&
        Clustering.bestCentroid(s, dir).getField("cid").isin(cells: _*))
      .select(
        col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), qLit(s, dir)), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
  }

  private def ivfSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND ${Clustering.centroidK}),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qd AS (
       |  SELECT c.cid,
       |    round(list_sum(list_transform(list_zip(q.qe, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM c, q),
       |probe AS (SELECT cid FROM qd ORDER BY d2, cid LIMIT $ivfNProbe),
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
       |a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    list_sum(list_transform(list_zip(e.embedding, q.qe),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
       |  FROM embeddings e
       |  JOIN a ON a.vec_id = e.vec_id, q
       |  WHERE e.vec_id <> 0 AND a.cid IN (SELECT cid FROM probe))
       |SELECT vec_id, label, round(score, 4) + 0 AS score FROM scored
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---- oracle SQL, generated from the same planeSets constants so
  // ---- the Spark side and the DuckDB side cannot drift

  /** Shared CTE chain: per-set buckets → query buckets → per-set
    * Hamming-1 probe lists → OR-amplified candidate union.
    */
  private def candSql: String = {
    val bucketCols = planeSets.zipWithIndex.map { case (ps, i) =>
      ps.map { case (d, w) => s"(CASE WHEN embedding[$d] > 0 THEN $w ELSE 0 END)" }
        .mkString("", " + ", s" AS b$i")
    }.mkString(",\n    ")
    val probeCtes = planeSets.zipWithIndex.map { case (ps, i) =>
      (0 +: ps.map(_._2))
        .map(m => s"SELECT xor(b$i, $m) AS b FROM qb")
        .mkString(s"probe$i AS (", " UNION ", ")")
    }.mkString(",\n")
    val orCond = planeSets.indices
      .map(i => s"b.b$i IN (SELECT b FROM probe$i)")
      .mkString(" OR ")
    s"""buckets AS (
       |  SELECT vec_id, label, embedding,
       |    $bucketCols
       |  FROM embeddings),
       |qb AS (SELECT ${planeSets.indices.map(i => s"b$i").mkString(", ")} FROM buckets WHERE vec_id = 0),
       |$probeCtes,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cands AS (SELECT b.vec_id, b.label, b.embedding FROM buckets b
       |          WHERE b.vec_id <> 0 AND ($orCond))""".stripMargin
  }

  /** PQ geometry for X59: 8 subspaces × 8 dims over the 64-dim
    * embedding, 4 codewords per subspace — the codebook rows are the
    * embeddings of vec_id 1..4 (the X32/X34 "index parameters are
    * operator CONFIG" argument: a real deployment trains codebooks
    * offline per subspace and ships them — [[trainedPqCodebook]] IS
    * that trainer, with its reconstruction-MSE drop measured in
    * SimilaritySpec; fixed rows are the cross-engine-reproducible
    * stand-in the DECLARED query keeps, exactly like the IVF
    * centroids). k=4 is deliberately tiny so quantization error is
    * VISIBLE — the adc_d2 ranking genuinely differs from exact L2,
    * which is the property SimilaritySpec measures (a k where ADC ≡
    * exact would make the whole approximation vacuous).
    */
  private[graft] val pqM = 8
  private[graft] val pqSubDim = 8
  private[graft] val pqK = 4

  /** Codebook: per subspace j, the j-th 8-dim slice of each of the
    * pqK config rows. Rides the [[Clustering.centroids]] memo (rows
    * 1..4 of it) — one fetch serves kmeans, IVF, and PQ.
    */
  private def pqCodebook(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    Clustering.centroids(s, dir).take(pqK)
      .map { case (cid, v) => cid -> v.map(_.toDouble) }

  /** X59 — product-quantization ADC top-10: the memory-bound ANN
    * scale path that LSH (X7) and IVF (X34) don't cover — each vector
    * compresses to m=8 code BYTES (here: nibbles), and query-time
    * scoring is m table lookups instead of d multiplies (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011). At 100 TB the codes table is ~1/32 the embedding bytes:
    * the rerank candidate set is produced WITHOUT touching raw
    * vectors, which is the point — IO, not FLOPs, is the 100 TB ANN
    * bottleneck.
    *
    * Engine-portable by the X32 discipline applied per subspace: the
    * per-subspace assignment rounds d² to 4 dp BEFORE the argmin with
    * codeword-id tie-break, and the ADC estimate sums the 8 looked-up
    * query-to-codeword distances AS INTEGER ten-thousandths (the
    * round-4 values are not exact decimals as doubles; their integer
    * image is order-independent under addition — the X48 fixed-point
    * discipline applied to distance accumulation).
    *
    * Scale shape: encoding and lookup are pure narrow per-row literal
    * work inside WholeStageCodegen — the codebook and the query's
    * 8×4 ADC table are plan literals; no join, no shuffle, and the
    * top-10 is a TakeOrdered. (A deployment materializes the codes
    * table once and scans only it; here encode+score fuse into one
    * pass over the corpus, which is the same plan minus the reused
    * materialization.)
    */
  /** The config codebook in PER-SUBSPACE form — per subspace j, the
    * pqK (cid, 8-dim slice) codewords. The per-subspace shape is the
    * general one: a TRAINED codebook ([[trainedPqCodebook]]) optimizes
    * each subspace independently, so its codewords are not slices of
    * any shared full vector.
    */
  private[graft] def perSubCodebook(
      s: SparkSession, dir: String): IndexedSeq[Seq[(Long, Array[Double])]] = {
    val cb = pqCodebook(s, dir)
    (0 until pqM).map { j =>
      cb.map { case (cid, v) => cid -> v.slice(j * pqSubDim, (j + 1) * pqSubDim) }
    }
  }

  /** Driver-side ADC table for an explicit per-subspace codebook:
    * adc4(j)(c-1) = round4(d²(q_j, cw_{c,j})) as integer
    * ten-thousandths (exact by construction).
    */
  private def adcTableOf(
      q: Array[Double], cb: IndexedSeq[Seq[(Long, Array[Double])]]): IndexedSeq[IndexedSeq[Long]] =
    (0 until pqM).map { j =>
      cb(j).map { case (_, v) =>
        var d = 0.0
        var i = 0
        while (i < pqSubDim) { val t = q(j * pqSubDim + i) - v(i); d += t * t; i += 1 }
        (BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
      }.toIndexedSeq
    }

  /** The j-th PQ code of `embedding` under an explicit per-subspace
    * codebook: argmin codeword by (round-4 d², cid); cids are 1..pqK,
    * so the code doubles as the 1-based ADC lookup index. Pure
    * literal-codebook projection — this is the column a deployment
    * writes into its codes table.
    */
  private[graft] def pqCodeJOf(
      cb: IndexedSeq[Seq[(Long, Array[Double])]], j: Int): Column = {
    val subCol = slice(col("embedding"), j * pqSubDim + 1, pqSubDim)
    least(cb(j).map { case (cid, v) =>
      struct(
        round(VectorOps.l2Sq(subCol, typedlit(v.toSeq)), 4).as("d2"),
        lit(cid).as("c"))
    }: _*).getField("c")
  }

  /** The declared queries' code column — the config codebook. */
  private[graft] def pqCodeJ(s: SparkSession, dir: String, j: Int): Column =
    pqCodeJOf(perSubCodebook(s, dir), j)

  /** ADC estimate as integer ten-thousandths under an explicit
    * codebook: 8 literal-array lookups summed. `codeJ` supplies the
    * per-subspace code column — computed from the embedding in the
    * fused paths, read from a materialized codes table in the
    * SimilaritySpec codes-only pin.
    */
  private[graft] def adcIntOfCb(
      s: SparkSession, dir: String,
      cb: IndexedSeq[Seq[(Long, Array[Double])]], codeJ: Int => Column): Column = {
    val adc4 = adcTableOf(queryVec(s, dir).map(_.toDouble), cb)
    (0 until pqM).map { j =>
      element_at(array(adc4(j).map(lit): _*), codeJ(j).cast("int"))
    }.reduce(_ + _)
  }

  /** The declared queries' ADC column — the config codebook. */
  private[graft] def adcIntOf(s: SparkSession, dir: String, codeJ: Int => Column): Column =
    adcIntOfCb(s, dir, perSubCodebook(s, dir), codeJ)

  /** Offline per-subspace Lloyd training of the PQ codebook — the
    * X33 k-means machinery applied to each 8-dim slice, making the
    * X59 scaladoc's "real deployments train codebooks offline"
    * operational. Seeded from the config rows (so cids stay 1..pqK
    * and the ADC lookup index semantics are unchanged); an emptied
    * codeword keeps its previous centroid, the standard Lloyd
    * empty-cluster rule that also guarantees all pqK cids survive.
    *
    * ONE corpus pass per iteration trains ALL pqM subspaces: the
    * per-row code array rides the X33 posexplode, and the shuffle
    * carries at most pqM × pqK × pqSubDim = 256 groups of partial
    * sums — plan constants, nothing corpus-proportional, same
    * argument as [[Clustering.lloyd]]. A per-subspace loop would
    * scan the corpus 8× per iteration for no reason.
    *
    * ScalaTest-only companion (the r9 `ivfTopK` pattern): the
    * DECLARED q_sim_pq keeps the engine-portable config codebook —
    * training's round-4 means are reproducible, but pinning 3
    * iterations × 256 means in a DuckDB oracle buys no coverage the
    * SimilaritySpec ADC-error measurement doesn't already give.
    */
  private[graft] def trainedPqCodebook(
      s: SparkSession, dir: String, iters: Int): IndexedSeq[Seq[(Long, Array[Double])]] = {
    var cb = perSubCodebook(s, dir)
    for (_ <- 1 to iters) {
      val codes = array((0 until pqM).map(j => pqCodeJOf(cb, j).cast("int")): _*)
      // two selects for the same reason as Clustering.kmeansUpdate:
      // resolving the argmin structs inside the generator projection
      // loses the struct field names
      val rows = Tables(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .select(codes.as("cs"), col("embedding"))
        .select(col("cs"), posexplode(col("embedding")))
        .select(
          expr(s"CAST(pos DIV $pqSubDim AS INT)").as("j"),
          expr(s"element_at(cs, CAST(pos DIV $pqSubDim AS INT) + 1)").as("c"),
          expr(s"CAST(pos % $pqSubDim AS INT)").as("d"),
          col("col").cast("double").as("x"))
        .groupBy(col("j"), col("c"), col("d"))
        .agg(round(avg(col("x")), 4).as("mean"))
        .collect()
      val byJc = rows.groupBy(r => (r.getInt(0), r.getInt(1).toLong))
      cb = (0 until pqM).map { j =>
        cb(j).map { case (cid, old) =>
          byJc.get((j, cid)) match {
            case Some(rs) => cid -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
            case None => cid -> old
          }
        }
      }
    }
    cb
  }

  private def simPq(s: SparkSession, dir: String): DataFrame = {
    val adcInt = adcIntOf(s, dir, pqCodeJ(s, dir, _))
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(adcInt / lit(10000.0), 4).as("adc_d2"))
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Rerank width for X60 (IVFADC): the ADC shortlist handed to exact
    * scoring. The recall lever that costs R raw-vector reads, not a
    * wider scan.
    */
  private[graft] val ivfpqRerank = 50

  /** X60 — IVFADC top-10, the composed Jégou et al. pipeline and the
    * actual 100 TB ANN shape: coarse-quantize to the X34 IVF cells,
    * PQ-encode with the X59 codebook, probe the query's `ivfNProbe`
    * nearest cells reading ONLY PQ codes, ADC-score the candidates,
    * then exact-rerank the integer-ADC top-`ivfpqRerank` against the
    * raw vectors. The division of labor: the cell probe bounds the
    * candidate set (~nprobe/K of the corpus), ADC bounds the bytes per
    * candidate (8 code nibbles, no raw vector), and the rerank bounds
    * the approximation error (the final 10 are EXACT round-4 L2 over
    * a 50-row set — PQ only chooses the shortlist).
    *
    * Encodes RAW vectors, not cell residuals (the paper's IVFADC
    * encodes r = v − centroid): raw codes keep ONE query-constant ADC
    * table for all cells, where residual codes need a per-probed-cell
    * table. The recall cost of that choice is absorbed by the exact
    * rerank; documented, not hidden.
    *
    * Scale shape: on a codes table written partitioned by cell —
    * (cell, vec_id, c0..c7, label), ~1/32 the corpus bytes — the probe
    * IN-list prunes partitions exactly like X34 (SimilaritySpec pins
    * partitions-read == probed cells on such a write, scoring from
    * codes alone); the ADC pass is narrow integer lookups in
    * WholeStageCodegen; both top-Ks are TakeOrdered (no global sort);
    * and the rerank touches raw vectors for exactly R ids — at 100 TB
    * an id-keyed point-lookup join, here fused into one scan because
    * the corpus and codes share a file.
    */
  private def simIvfPq(s: SparkSession, dir: String): DataFrame = {
    val cells = ivfProbeCells(s, dir)
    val adcInt = adcIntOf(s, dir, pqCodeJ(s, dir, _))
    val shortlist = Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0 &&
        Clustering.bestCentroid(s, dir).getField("cid").isin(cells: _*))
      .select(col("vec_id"), col("label"), col("embedding"), adcInt.as("adc4"))
      .orderBy(col("adc4").asc, col("vec_id").asc)
      .limit(ivfpqRerank)
    shortlist
      .select(col("vec_id"), col("label"),
        round(VectorOps.l2Sq(col("embedding"), qLit(s, dir)), 4).as("dist_sq"))
      .orderBy(col("dist_sq").asc, col("vec_id").asc)
      .limit(10)
  }

  private def pqSql: String =
    s"""WITH cb AS (
       |  SELECT vec_id AS c, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $pqK),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |js AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS j),
       |dc AS (
       |  SELECT e.vec_id, e.label, js.j, cb.c,
       |    round(list_sum(list_transform(
       |      list_zip(e.embedding[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim],
       |               cb.ce[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim]),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, js, cb WHERE e.vec_id <> 0),
       |code AS (
       |  SELECT vec_id, label, j, c,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
       |  FROM dc),
       |qd AS (
       |  SELECT js.j, cb.c,
       |    CAST(round(round(list_sum(list_transform(
       |      list_zip(q.qe[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim],
       |               cb.ce[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim]),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) * 10000, 0) AS BIGINT) AS a4
       |  FROM q, js, cb)
       |SELECT vec_id, label, round(sum(a4) / 10000.0, 4) + 0 AS adc_d2
       |FROM code JOIN qd USING (j, c)
       |WHERE rn = 1
       |GROUP BY vec_id, label
       |ORDER BY adc_d2 ASC, vec_id ASC LIMIT 10""".stripMargin

  /** SQ8 quantization levels (codes 0..255 — the faiss
    * `ScalarQuantizer QT_8bit` geometry).
    */
  private[graft] val sq8Levels = 256

  /** Per-dimension [lo, hi] quantization bounds for X64, trained on
    * the search corpus in ONE aggregate pass (128 min/max partials,
    * map-side combined — the "train" step a deployment runs once and
    * ships with the index, exactly like the IVF centroids / PQ
    * codebook ride config). Memoized per (session, dir) like
    * [[queryVec]]; a degenerate dimension (lo == hi) fails loudly —
    * silently emitting a 0-width step would turn that dimension's
    * codes into division-by-zero NaNs downstream.
    */
  private[graft] def sq8Bounds(s: SparkSession, dir: String): Array[(Double, Double)] =
    SessionMemo(s, dir, "sq8_bounds") {
      val dim = pqM * pqSubDim
      val aggs = (1 to dim).flatMap(j => Seq(
        min(element_at(col("embedding"), j).cast("double")).as(s"lo$j"),
        max(element_at(col("embedding"), j).cast("double")).as(s"hi$j")))
      val row = Tables(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .agg(aggs.head, aggs.tail: _*)
        .head()
      Array.tabulate(dim) { i =>
        val lo = row.getDouble(2 * i)
        val hi = row.getDouble(2 * i + 1)
        if (!(hi > lo)) throw new IllegalStateException(
          s"SQ8: degenerate embedding dimension ${i + 1} (lo == hi == $lo) in $dir")
        (lo, hi)
      }
    }

  /** The SQ8 code of dimension `j` (1-based) under bounds (lo, hi):
    * clamp(floor((v − lo) · 256 / (hi − lo)), 0, 255). Written in
    * EXACTLY the oracle's operation order so both engines run the
    * same IEEE double sequence; floor (not round) so the only values
    * landing on an integer boundary are v == lo and v == hi, both
    * absorbed by the clamp.
    */
  private def sq8Code(v: Column, lo: Double, hi: Double): Column =
    least(lit(255L), greatest(lit(0L),
      floor((v.cast("double") - lit(lo)) * lit(256) / (lit(hi) - lit(lo)))))

  /** X64 — scalar-quantization (SQ8) ADC top-10: the OTHER memory-
    * bound ANN compression (faiss's default `SQ8` index family) —
    * each dimension quantizes independently to an 8-bit code under
    * per-dimension affine bounds, so the codes table is exactly 1/4
    * the float32 corpus bytes with NO codebook assignment work
    * (encode is a subtract-scale-floor, not pqK distance argmins).
    * Complements X59: PQ compresses harder (1/32) but coarser; SQ8
    * is the high-recall tier a deployment reranks FROM (measured
    * recall@10 vs exact L2 = 9/10 at sf0.001, 10/10 at sf0.01, vs
    * 1/10 for raw PQ ADC — SimilaritySpec pins the dominance).
    *
    * Distance is asymmetric-style over reconstructed steps:
    * d̂² = Σ_j ((c_j − qc_j) · step_j)², accumulated by the X59
    * discipline — each per-dimension term rounds to 4 dp and sums as
    * integer ten-thousandths, order-free. Codes, steps, and the
    * query's codes are plan literals (bounds collected once, 128
    * doubles); scoring is pure narrow WholeStageCodegen arithmetic —
    * no join, no shuffle, one TakeOrdered. At 100 TB: bounds-train is
    * a one-pass min/max job shipped with the index; the scan reads
    * only the codes table.
    */
  private def simSq8(s: SparkSession, dir: String): DataFrame = {
    val b = sq8Bounds(s, dir)
    val q = queryVec(s, dir)
    val terms = (1 to pqM * pqSubDim).map { j =>
      val (lo, hi) = b(j - 1)
      val step = (hi - lo) / 256
      val qc = math.min(255L, math.max(0L,
        math.floor((q(j - 1).toDouble - lo) * 256 / (hi - lo)).toLong))
      val diff = (sq8Code(element_at(col("embedding"), j), lo, hi) - lit(qc)).cast("double") * lit(step)
      round(round(diff * diff, 4) * lit(10000), 0).cast("long")
    }
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(terms.reduce(_ + _) / lit(10000.0), 4).as("sq_d2"))
      .orderBy(col("sq_d2").asc, col("vec_id").asc)
      .limit(10)
  }

  private def sq8Sql: String = {
    val dim = pqM * pqSubDim
    s"""WITH js AS (SELECT unnest(generate_series(1, $dim)) AS j),
       |b AS (
       |  SELECT js.j,
       |    min(CAST(e.embedding[js.j] AS DOUBLE)) AS lo,
       |    max(CAST(e.embedding[js.j] AS DOUBLE)) AS hi
       |  FROM embeddings e, js WHERE e.vec_id <> 0 GROUP BY js.j),
       |p AS (
       |  SELECT b.j, b.lo, b.hi, (b.hi - b.lo) / 256 AS step,
       |    LEAST(255, GREATEST(0, CAST(floor(
       |      (CAST(q.embedding[b.j] AS DOUBLE) - b.lo) * 256 / (b.hi - b.lo)) AS BIGINT))) AS qc
       |  FROM b, embeddings q WHERE q.vec_id = 0),
       |c AS (
       |  SELECT e.vec_id, e.label, p.step, p.qc,
       |    LEAST(255, GREATEST(0, CAST(floor(
       |      (CAST(e.embedding[p.j] AS DOUBLE) - p.lo) * 256 / (p.hi - p.lo)) AS BIGINT))) AS cj
       |  FROM embeddings e, p WHERE e.vec_id <> 0),
       |t AS (
       |  SELECT vec_id, label,
       |    CAST(round(round(((cj - qc) * step) * ((cj - qc) * step), 4) * 10000, 0) AS BIGINT) AS t4
       |  FROM c)
       |SELECT vec_id, label, round(sum(t4) / 10000.0, 4) + 0 AS sq_d2
       |FROM t GROUP BY vec_id, label
       |ORDER BY sq_d2 ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** X88 projection geometry: 64 → 16 dims with a literal Achlioptas
    * ±1 sign matrix (JL with database-friendly entries — Achlioptas
    * 2001 showed ±1 preserves the Johnson–Lindenstrauss guarantee;
    * no gaussian sampling, no float matrix). Signs derive from a
    * fixed LCG at class-load and are interpolated into both engines.
    */
  private[graft] val jlK = 16
  private[graft] val jlSigns: IndexedSeq[IndexedSeq[Long]] =
    (0 until jlK).map(i => (0 until 64).map { j =>
      if ((((6364136223846793005L * (i * 64 + j + 1) + 1442695040888963407L) >>> 33) & 1L) == 1L) 1L
      else -1L
    })

  /** X88 — Johnson–Lindenstrauss random projection (`q_jl_project`):
    * the dimension-REDUCTION member of the compression family (X59
    * PQ and X64 SQ8 quantize values; IVF partitions space; JL
    * shrinks the dimension itself — the standard first move before
    * an index build or a pairwise pass when d is the cost driver).
    * Declared output is the per-vector audit row: exact integer
    * squared norms before and after, and their ratio against the
    * isometry expectation E[‖Px‖²] = k·‖x‖² — the number that says
    * whether the projection is safe to build on.
    *
    * Integer-exact by construction: components snap to millionths at
    * the scan, the ±1 matrix makes every projected component an
    * exact integer SUM (order-free — no float matrix multiply), both
    * norms are exact integer sums of squares, and the ratio rounds
    * 4dp in integer space on DECIMAL(38,0) cross-products. Scale
    * shape: one narrow posexplode + ONE vec_id aggregate computing
    * all 16 components as literal-sign conditional sums with
    * map-side partials — no join, no window; the matrix is a plan
    * literal. SimilaritySpec recounts sequentially and measures the
    * JL concentration (mean ratio ≈ 1, bounded spread) — the
    * distortion evidence, not just the algebra.
    */
  /** The embeddings table as one (vec_id, dim, xf) row per component:
    * 1-based `dim`, each component snapped to integer millionths
    * (`xf`), so every downstream sum is exact and order-free.
    */
  private[graft] def embeddingDims(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        round(col("col").cast("double") * 1000000.0, 0).cast("long").as("xf"))

  private def jlProject(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingDims(s, dir)
    val comps = (0 until jlK).map { i =>
      val signs = array(jlSigns(i).map(lit): _*)
      sum(element_at(signs, col("dim")) * col("xf")).as(s"c$i")
    }
    val aggCols = comps :+ sum(col("xf") * col("xf")).as("n2")
    e.groupBy(col("vec_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("pn2",
        (0 until jlK).map(i => dec(col(s"c$i")) * dec(col(s"c$i"))).reduce(_ + _))
      .withColumn("den", dec(col("n2")) * lit(jlK))
      .select(col("vec_id"), col("n2").as("norm2_f"),
        col("pn2").cast("decimal(38,0)").as("proj_norm2_f"),
        (expr("CAST((pn2 * 20000 + den) DIV (2 * den) AS BIGINT)") / lit(10000.0))
          .as("isometry_ratio"))
      .select(col("vec_id"), col("norm2_f"),
        col("proj_norm2_f").cast("long").as("proj_norm2_f"), col("isometry_ratio"))
      .orderBy("vec_id")
  }

  private def jlSql: String = {
    val compSums = (0 until jlK).map { i =>
      val lst = jlSigns(i).mkString("[", ", ", "]")
      s"sum(($lst)[dim] * xf) AS c$i"
    }.mkString(", ")
    val pn = (0 until jlK).map(i => s"CAST(c$i AS HUGEINT) * c$i").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, s.i AS dim,
       |    CAST(round(CAST(emb[s.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xf
       |  FROM (SELECT vec_id, embedding AS emb FROM embeddings) t,
       |  LATERAL unnest(generate_series(1, len(emb))) AS s(i)),
       |a AS (
       |  SELECT vec_id, $compSums,
       |    CAST(sum(CAST(xf AS HUGEINT) * xf) AS HUGEINT) AS n2
       |  FROM e GROUP BY vec_id),
       |b AS (SELECT vec_id, n2, $pn AS pn2, n2 * $jlK AS den FROM a)
       |SELECT vec_id, CAST(n2 AS BIGINT) AS norm2_f,
       |  CAST(pn2 AS BIGINT) AS proj_norm2_f,
       |  CAST((pn2 * 20000 + den) // (2 * den) AS BIGINT) / 10000.0 AS isometry_ratio
       |FROM b ORDER BY vec_id""".stripMargin
  }

  /** X96 — IVF index health report (`q_ivf_stats`): the cell-balance
    * table an ANN deployment reads BEFORE trusting X34's probe — IVF's
    * latency and recall promises assume roughly-even cells, and a
    * skewed or empty-cell index (bad centroids, drifted corpus) breaks
    * both silently: a hot cell makes nprobe scans slow, empty cells
    * waste probe budget. Per cell: population, corpus share; every
    * row carries the one-number verdict `imbalance` = n_max·K/N (1.0
    * = perfectly even; a deployment alarms past ~2). The cell table
    * left-joins the counts so an empty cell would surface as a zero
    * row, not silently vanish — structurally unreachable under THIS
    * corpus's centroids-are-rows-1..K convention (every centroid row
    * assigns to itself), but exactly the finding the report exists
    * for when centroids come from an offline k-means as their own
    * table (SimilaritySpec pins the reachable invariants: K rows
    * always, counts conserve the corpus, imbalance recounted).
    *
    * Scale shape: the assignment is X32's narrow literal-centroid
    * argmin (no join), collapsed map-side into a ≤K-row aggregate;
    * the K-row cell table left-joins it (plan-constant broadcast) and
    * the max/total verdict rides a 1-row broadcast (the X18 pattern).
    * Shares the memoized centroid fetch with X32/X34. Query vector
    * row 0 is excluded exactly as the X34 probe excludes it. Shares
    * round 4dp in integer space.
    */
  private def ivfStats(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(Clustering.bestCentroid(s, dir).getField("cid").as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    val cells = s.range(1, Clustering.centroidK + 1)
      .select(col("id").cast("long").as("cid"))
    val tot = counts.agg(
      sum(col("n")).as("nt"), max(col("n")).as("nmax"),
      count(lit(1)).as("k_used"))
    cells.join(counts, Seq("cid"), "left")
      .crossJoin(broadcast(tot))
      .select(
        col("cid"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_vecs"),
        Extensions.share4("coalesce(n, 0)", "nt").as("share"),
        Extensions.share4(s"nmax * ${Clustering.centroidK}", "nt").as("imbalance"))
      .orderBy(col("cid"))
  }

  private def ivfStatsSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND ${Clustering.centroidK}),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, c.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, c WHERE e.vec_id <> 0),
       |r AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d),
       |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM r WHERE rn = 1 GROUP BY cid),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(max(n) AS BIGINT) AS nmax FROM cnt),
       |cells AS (SELECT unnest(generate_series(1, ${Clustering.centroidK})) AS cid)
       |SELECT CAST(cells.cid AS BIGINT) AS cid,
       |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
       |  CAST((20000 * coalesce(cnt.n, 0) + nt) // (2 * nt) AS BIGINT) / 10000.0 AS share,
       |  CAST((20000 * nmax * ${Clustering.centroidK} + nt) // (2 * nt) AS BIGINT) / 10000.0
       |    AS imbalance
       |FROM cells LEFT JOIN cnt ON cnt.cid = cells.cid, tot
       |ORDER BY cid""".stripMargin

  /** X93 — exact embedding gram matrix (`q_embed_gram`): Σᵥ xᵥxᵥᵀ as
    * ONE distributed aggregate — the d×d sufficient statistic behind
    * PCA/whitening/covariance (cov = G/n − μμᵀ): the standard first
    * move when a 100 TB embedding column needs a DATA-DRIVEN
    * projection instead of X88's oblivious JL signs. The full
    * pipeline splits exactly here: the corpus-sized half is this gram
    * aggregate; the d×d eigensolve is driver-side on 2080 numbers
    * (SimilaritySpec runs that power iteration and measures the top
    * component's variance share — the operator IS distributed PCA's
    * data pass).
    *
    * Integer-exact: components snap to millionths at the scan (the
    * X71 rule), so every product is an exact integer in 10⁻¹² units
    * and the sum is order-free — no float matmul anywhere, the oracle
    * hash-matches by construction.
    *
    * Scale shape: ZERO joins, ZERO per-pair rows — each vector's
    * d(d+1)/2 products accumulate into a single triangle buffer
    * inside the one-pass [[graft.functions.GramSketch]] aggregate
    * (ObjectHashAggregate, full map-side partials: a partition ships
    * ONE 2080-long buffer, merge is elementwise add), and only the
    * final ≤2080 struct rows explode for presentation. The first cut
    * of this operator exploded every product through a hash aggregate
    * — correct, but 43.9 s on the sf1-shape fixture vs 0.88 s for the
    * sketch (measured, min-of-passes — a 50× cut); that explode form stays as
    * [[embedGramExplode]], DECIMAL-interior, and SimilaritySpec pins
    * the two paths elementwise-equal on every run — which is also
    * the check that keeps the sketch's documented long-overflow
    * bound (~9·10⁶ unit-scale vectors; 128-bit cells past that)
    * honest rather than assumed.
    */
  private def embedGram(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(expr(
        """graft_gram_sketch(
          |  transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)))
          |""".stripMargin).as("gs"))
      .select(explode(col("gs")).as("x"))
      .select(col("x.i").as("dim_i"), col("x.j").as("dim_j"),
        col("x.g").as("g_fixed"))
      .orderBy(col("dim_i"), col("dim_j"))

  /** The declarative explode-and-aggregate twin of [[embedGram]] —
    * d(d+1)/2 in-row products into a DECIMAL(38,0) hash aggregate.
    * Same integers with a wider interior; the declared path's
    * long-buffer sketch is pinned elementwise-equal to this form by
    * SimilaritySpec on every run (the MinHashSketch two-path
    * discipline), which is also what makes the sketch's documented
    * overflow bound checkable rather than assumed.
    */
  private[graft] def embedGramExplode(s: SparkSession, dir: String): DataFrame = {
    val pairs = expr(
      """flatten(transform(sequence(1, size(embedding)), i ->
        |  transform(sequence(i, size(embedding)), j ->
        |    struct(i AS i, j AS j,
        |      CAST(round(CAST(element_at(embedding, i) AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |      * CAST(round(CAST(element_at(embedding, j) AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS p))))
        |""".stripMargin)
    Tables(s, dir, "embeddings")
      .select(explode(pairs).as("x"))
      .select(col("x.i").as("dim_i"), col("x.j").as("dim_j"), col("x.p").as("p"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(sum(col("p").cast("decimal(38,0)")).as("g"))
      .select(col("dim_i").cast("long").as("dim_i"),
        col("dim_j").cast("long").as("dim_j"),
        col("g").cast("long").as("g_fixed"))
      .orderBy(col("dim_i"), col("dim_j"))
  }

  private def embedGramSql: String =
    """WITH e AS (
      |  SELECT vec_id, s.i AS i,
      |    CAST(round(CAST(emb[s.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xf
      |  FROM (SELECT vec_id, embedding AS emb FROM embeddings) t,
      |  LATERAL unnest(generate_series(1, len(emb))) AS s(i))
      |SELECT CAST(a.i AS BIGINT) AS dim_i, CAST(b.i AS BIGINT) AS dim_j,
      |  CAST(sum(CAST(a.xf AS HUGEINT) * b.xf) AS BIGINT) AS g_fixed
      |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY a.i, b.i ORDER BY dim_i, dim_j""".stripMargin

  /** Fixed iteration count for X109's power method — a plan constant,
    * same on both engines. 8 steps converge geometrically when the
    * spectrum is spiked (ratio (λ₂/λ₁)⁸); on a near-isotropic corpus
    * (this synthetic one: λ₁/λ₂ ≈ 1.017) no small K converges, and no
    * engine disagreement hides behind that — the contract is the
    * exact fixed-K iterate, not the limit (SimilaritySpec proves
    * convergence on a planted-spike fixture through the SAME declared
    * query, and monotone Rayleigh ascent here).
    */
  private[graft] val pcaIters = 8

  /** [[pcaIters]] integer power steps on the d×d matrix `m` (1-based
    * accessor) from the all-10⁶ start: y = M·v in exact BigInt, then
    * the sign-explicit rescale to ~10⁶ scale.
    */
  private def powerIterate(d: Int, m: (Int, Int) => BigInt): Array[BigInt] =
    (1 to pcaIters).foldLeft(Array.fill(d)(BigInt(1000000))) { (v, _) =>
      val y = Array.tabulate(d)(i => (1 to d).map(j => m(i + 1, j) * v(j - 1)).sum)
      val sden = (y.map(_.abs).max / 1000000).max(BigInt(1))
      y.map(x => (x.abs / sden) * (if (x < 0) -1 else 1))
    }

  /** The exact quadratic form vᵀ·M·v. */
  private def quadForm(v: Array[BigInt], m: (Int, Int) => BigInt): BigInt =
    (for { i <- v.indices; j <- v.indices } yield v(i) * m(i + 1, j + 1) * v(j)).sum

  /** The driver half shared by X109/X110: collect the X93 triangle
    * once, run [[powerIterate]] on it, and return the iterate v, its
    * exact Rayleigh pieces vᵀGv and vᵀv, tr(G), and the Gram accessor
    * (1-based, symmetric) X110 deflates.
    */
  private def pcaSolve(s: SparkSession, dir: String)
      : (Array[BigInt], BigInt, BigInt, BigInt, (Int, Int) => BigInt) = {
    val tri = embedGram(s, dir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> BigInt(r.getLong(2)))
      .toMap
    val d = tri.keys.map(_._2).max
    val gf = (i: Int, j: Int) => tri(if (i <= j) (i, j) else (j, i))
    val v = powerIterate(d, gf)
    (v, quadForm(v, gf), v.map(x => x * x).sum, (1 to d).map(i => gf(i, i)).sum, gf)
  }

  /** X109 — PCA top component by portable integer power iteration
    * (`q_pca_power`): completes the pipeline X93 starts. The
    * corpus-sized half is the one-pass [[graft.functions.GramSketch]]
    * aggregate (X93's plan, reused verbatim); this operator adds the
    * d×d half — K=[[pcaIters]] power-method steps — and emits the
    * dominant direction plus its variance share, the number that
    * decides whether a learned projection (PCA whitening) beats X88's
    * oblivious JL signs for a given corpus.
    *
    * The eigensolve is DRIVER-side on the collected triangle
    * (d(d+1)/2 = 2080 longs — a plan constant, the k-means-centroid
    * collect class), but engine-PORTABLE by construction: every step
    * is integer arithmetic — y = G·v in exact BigInt, then a rescale
    * to ~10⁶ scale by sign-explicit integer division (|y| div s with
    * s = max|y| div 10⁶ floored at 1; Spark `div` truncates and
    * DuckDB `//` floors, so the abs/sign-restore dance from X67
    * applies) — and the oracle replays the IDENTICAL iteration as
    * [[pcaIters]] unrolled HUGEINT CTEs (every intermediate bounded:
    * y ≤ d·G·v ≈ 10²⁴, vᵀGv ≈ 10³², 20000·num ≈ 10³⁶ < 10³⁸).
    * The variance share λ/tr(G) = (vᵀGv)/(vᵀv·tr(G)) is an exact
    * nonnegative integer rational (G is PSD), rounded 4dp in integer
    * space.
    *
    * Scale shape: identical to X93 — ZERO joins, ZERO corpus-sized
    * shuffles, one triangle buffer per partition; the added work is
    * 8·d² multiplies on the driver and a d-row literal output.
    */
  private def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val (v, num, den, tr, _) = pcaSolve(s, dir)
    val share = ((BigInt(20000) * num + den * tr) / (den * tr * 2)).toLong / 10000.0
    import s.implicits._
    v.indices.map(i => ((i + 1).toLong, v(i).toLong, share))
      .toDF("dim", "v_fixed", "lambda_share")
      .orderBy("dim")
  }

  /** The oracle replay of [[pcaSolve]] as a WITH-prefix: snap, gram,
    * and [[pcaIters]] unrolled power steps. Every multiply-referenced
    * CTE is MATERIALIZED — without the hint DuckDB inlines, and the
    * doubly-self-referencing step chain recomputes the gram join
    * 2^K times (measured: 11 min → 0.13 s at sf0.01).
    */
  private def pcaCtePrefix: String = {
    val iters = (1 to pcaIters).map { k =>
      val pv = s"v${k - 1}"
      s"""y$k AS MATERIALIZED (
         |  SELECT g.i AS dim, sum(g.g * $pv.v) AS y
         |  FROM g JOIN $pv ON g.j = $pv.dim GROUP BY 1),
         |s$k AS (SELECT greatest(max(abs(y)) // 1000000, 1) AS s FROM y$k),
         |v$k AS MATERIALIZED (
         |  SELECT dim, CASE WHEN y < 0 THEN -(abs(y) // s) ELSE abs(y) // s END AS v
         |  FROM y$k, s$k)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, s.i AS i,
       |    CAST(round(CAST(emb[s.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xf
       |  FROM (SELECT vec_id, embedding AS emb FROM embeddings) t,
       |  LATERAL unnest(generate_series(1, len(emb))) AS s(i)),
       |g AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, sum(CAST(a.xf AS HUGEINT) * b.xf) AS g
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS HUGEINT) AS v FROM e),
       |$iters""".stripMargin
  }

  /** Negatives kept per anchor (X112) — config, like the top-10 of
    * the sim queries.
    */
  private[graft] val hardNegK = 5

  /** Anchor-batch size bound (X112): anchors are the first 64 anchor
    * SLOTS (vec_id % 50 = 0 ∧ vec_id < 50·64) — a CONSTANT, because
    * the anchor set is a training batch, sized by the trainer, not by
    * the corpus. Before r18 the anchors were every 50th vector
    * UNCAPPED, so the documented "Θ(N·A), A fixed in production"
    * shape silently degraded to Θ(N²/50) — the sf10 probe measured
    * the declared query at 120× its 10× cost (linear = 10×), the
    * worst mover on the whole surface. The cap makes the declared
    * query embody the contract; the 100× re-probe confirms linear.
    */
  private[graft] val hardNegAnchorSlots = 64

  /** X112 — contrastive hard-negative mining (`q_hard_negatives`):
    * the training-PAIR generation step for embedding models
    * (contrastive/triplet fine-tuning wants, per anchor, the most
    * similar corpus items that are NOT semantically the same thing —
    * "hard" negatives carry the gradient signal random negatives
    * don't). Anchors = the first [[hardNegAnchorSlots]] anchor slots
    * (vec_id % 50 = 0, id < 50·slots) — a FIXED-size training batch,
    * per the production contract, and since r18 the declared query
    * enforces the bound instead of documenting it (see
    * [[hardNegAnchorSlots]]); positives-proxy = the X32 k-means
    * cell (same cell ⇒ candidate positive, excluded); negatives =
    * top-[[hardNegK]] remaining candidates by cosine under the total
    * order (score4 DESC, neg_id ASC).
    *
    * Numerics: cosine is the shared index-ordered IEEE sequence
    * (X100's argument), quantized ONCE to integer ten-thousandths —
    * s4 = round(cos·10⁴) — so ranking, tie-break and the emitted
    * score (s4/10⁴) are all engine-portable; the cell decision is
    * X32's compare-on-rounded argmin, stated by the SAME factored
    * CTE chain ([[Clustering.cellCtes]]) in the oracle.
    *
    * Scale shape: the anchor side broadcasts (keyless
    * BroadcastNestedLoopJoin — a similarity-threshold/top-K join has
    * no equi-key; the X100 shape), cells are the narrow literal
    * argmin on BOTH sides (no join), and the per-anchor top-K runs
    * through the one-pass [[graft.functions.TopKSketch]] bounded
    * aggregate — map-side partials keep K rows per buffer and the
    * shuffle carries A·K·3 longs, where a `row_number()` window
    * would sort N-row anchor partitions in single tasks. Θ(N·A)
    * narrow codegen'd work total, A fixed in production.
    */
  /** The scored candidate pairs before the top-K — factored so the
    * spec's window twin ranks EXACTLY the rows the sketch consumes.
    */
  private[graft] def hardNegScored(s: SparkSession, dir: String): DataFrame = {
    val cid = Clustering.bestCentroid(s, dir).getField("cid").cast("long")
    val cand = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id").as("neg_id"),
        transform(col("embedding"), _.cast("double")).as("nv"),
        cid.as("neg_cid"))
    val anchors = graft.Tables(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 50L * hardNegAnchorSlots)
      .select(col("vec_id").as("anchor_id"),
        transform(col("embedding"), _.cast("double")).as("av"),
        cid.as("anchor_cid"))
    cand.crossJoin(broadcast(anchors))
      .filter(col("neg_cid") =!= col("anchor_cid"))
      .select(col("anchor_id"), col("anchor_cid"), col("neg_id"), col("neg_cid"),
        round(VectorOps.cosine(col("nv"), col("av")) * 10000.0, 0)
          .cast("long").as("s4"))
  }

  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    hardNegScored(s, dir)
      .groupBy(col("anchor_id"), col("anchor_cid"))
      .agg(expr(s"graft_topk(s4, neg_id, neg_cid, $hardNegK)").as("tops"))
      .select(col("anchor_id"), col("anchor_cid"), explode(col("tops")).as("t"))
      .select(col("anchor_id"), col("anchor_cid"),
        col("t.rank").as("rank"), col("t.id").as("neg_id"),
        col("t.payload").as("neg_cid"),
        (col("t.score4") / lit(10000.0)).as("score"))
      .orderBy("anchor_id", "rank")
  }

  private def hardNegativesSql: String =
    s"""WITH ${Clustering.cellCtes},
       |ax AS (
       |  SELECT vec_id AS anchor_id, cid AS anchor_cid FROM cells
       |  WHERE vec_id % 50 = 0 AND vec_id < ${50L * hardNegAnchorSlots}),
       |ee AS MATERIALIZED (
       |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
       |    unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
       |  FROM embeddings),
       |ae AS (SELECT ee.vec_id AS anchor_id, i, x FROM ee
       |  JOIN ax ON ax.anchor_id = ee.vec_id),
       |sc AS (
       |  SELECT ee.vec_id AS neg_id, ae.anchor_id,
       |    CAST(round(sum(ee.x * ae.x)
       |      / (sqrt(sum(ee.x * ee.x)) * sqrt(sum(ae.x * ae.x))) * 10000) AS BIGINT) AS s4
       |  FROM ee JOIN ae ON ae.i = ee.i
       |  GROUP BY 1, 2),
       |flt AS (
       |  SELECT s.anchor_id, ax.anchor_cid, s.neg_id, c.cid AS neg_cid, s.s4
       |  FROM sc s JOIN ax ON ax.anchor_id = s.anchor_id
       |  JOIN cells c ON c.vec_id = s.neg_id
       |  WHERE c.cid <> ax.anchor_cid),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY anchor_id
       |    ORDER BY s4 DESC, neg_id) AS rank
       |  FROM flt)
       |SELECT anchor_id, CAST(anchor_cid AS BIGINT) AS anchor_cid,
       |  CAST(rank AS BIGINT) AS rank, neg_id,
       |  CAST(neg_cid AS BIGINT) AS neg_cid, s4 / 10000.0 AS score
       |FROM rk WHERE rank <= $hardNegK ORDER BY anchor_id, rank""".stripMargin

  /** X127 — embedding-norm hygiene (`q_embed_norms`): the first
    * check run on a new embedding shipment — encoders are supposed to
    * emit ~unit-norm vectors, and a broken preprocessing step
    * (skipped normalization, fp16 truncation, zero rows) shows up as
    * a norm distribution that left the unit band. Per 0.05-wide
    * norm² bucket: vector count; riding every row, the corpus
    * verdict: vectors with ǀ‖x‖²−1ǀ > 0.1 (out-of-band) and their
    * 4dp share — the number a loading gate checks before an index
    * build (X34/X59 quantizers assume the unit scale).
    *
    * Numerics: ‖x‖² is the shared index-ordered IEEE sum, snapped
    * ONCE to ppm (round(n2·10⁶)); the bucket (n2_ppm div 5·10⁴) and
    * the band test (ǀn2_ppm − 10⁶ǀ > 10⁵) are pure integer — the
    * decision is engine-portable even where ‖x‖² is irrational.
    *
    * Scale shape: one narrow pass (native ArrayNormSq after the HOF
    * rewrite), map-side collapse to the ≤ǀbucketsǀ histogram, 1-row
    * broadcast verdict.
    */
  private def embedNorms(s: SparkSession, dir: String): DataFrame = {
    val n2ppm = round(VectorOps.normSq(col("embedding")) * 1000000.0, 0).cast("long")
    val h = graft.Tables(s, dir, "embeddings")
      .select((n2ppm / 50000).cast("long").as("bucket"),
        (abs(n2ppm - 1000000L) > 100000L).cast("long").as("oob"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("oob")).as("n_oob_b"))
      .localCheckpoint()
    val tot = h.agg(sum(col("n_vecs")).as("n"), sum(col("n_oob_b")).as("n_oob"))
    h.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_vecs").cast("long").as("n_vecs"),
        col("n_oob").cast("long").as("n_oob"),
        Extensions.share4("n_oob", "n").as("oob_share"))
      .orderBy("bucket")
  }

  private def embedNormsSql: String =
    """WITH v AS (
      |  SELECT CAST(round(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000.0) AS BIGINT) AS n2
      |  FROM embeddings),
      |h AS (
      |  SELECT n2 // 50000 AS bucket, count(*) AS n_vecs,
      |    sum(CASE WHEN abs(n2 - 1000000) > 100000 THEN 1 ELSE 0 END) AS n_oob_b
      |  FROM v GROUP BY 1),
      |t AS (SELECT sum(n_vecs) AS n, sum(n_oob_b) AS n_oob FROM h)
      |SELECT CAST(h.bucket AS BIGINT) AS bucket, CAST(h.n_vecs AS BIGINT) AS n_vecs,
      |  CAST(t.n_oob AS BIGINT) AS n_oob,
      |  CAST((20000 * t.n_oob + t.n) // (2 * t.n) AS BIGINT) / 10000.0 AS oob_share
      |FROM h, t ORDER BY bucket""".stripMargin

  /** X110 — PCA projection pass (`q_pca_project`): the corpus-sized
    * half that makes X109's eigenvector a usable transform. X109
    * returns the direction; this operator runs the narrow per-row
    * pass a 100 TB PCA actually executes: for every vector, its exact
    * integer dot with the iterate (`dot`, the PC1 coordinate at
    * 10⁶·10⁶ fixed scale) and the fraction of the vector's energy PC1
    * captures — `pc1_share` = cos²(x, v) = (x·v)²/(‖x‖²‖v‖²), an
    * exact nonnegative rational rounded 4dp in integer space (zero
    * vectors defined 0). Riding every row, the corpus verdict
    * `corpus_share` = Σ(x·v)²/(‖v‖²·Σ‖x‖²) — algebraically THE SAME
    * rational as X109's λ/tr(G) (Σ(x·v)² = vᵀGv, Σ‖x‖² = tr G), so
    * SimilaritySpec pins `corpus_share == lambda_share` bit-for-bit:
    * the distributed per-row pass and the collected-triangle
    * eigensolve certify each other through two independent routes.
    *
    * Scale shape: the X88 JL plan — posexplode + element_at on a
    * d-long literal, ONE map-side-combined groupBy(vec_id) (no join;
    * the eigenvector rides the plan as a literal, the k-means-
    * centroid discipline), one 1-row broadcast totals join for the
    * verdict. Bounds: dot ≤ d·10⁶·2·10⁶ ≈ 1.3·10¹⁴ (long-safe);
    * dot², x2·v2 ≈ 10²⁸ in DECIMAL(38,0); the corpus-total numerator
    * 2·10⁴·Σdot² stays inside 38 digits through ~10⁹ rows — past
    * that, rescale the iterate to 10³ (documented, not needed at any
    * tested SF).
    */
  private def pcaProject(s: SparkSession, dir: String): DataFrame = {
    val (v, _, den, _, _) = pcaSolve(s, dir)
    val vlit = array(v.map(x => lit(x.toLong)): _*)
    val v2 = den.toLong // Σ v_i² ≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴ — long-safe
    val e = embeddingDims(s, dir)
    // ONE corpus scan: the (vec_id, dot, x2) reduction is materialized
    // (X101's localCheckpoint discipline) because the verdict totals
    // are a second consumer — without it Spark re-scans the parquet
    // for the 1-row aggregate (was 2 scans, SimilaritySpec pins 0
    // parquet scans in the declared plan)
    val perVec = e.groupBy(col("vec_id"))
      .agg(sum(element_at(vlit, col("dim")) * col("xf")).as("dot"),
        sum(col("xf") * col("xf")).as("x2"))
      .localCheckpoint()
    val totals = perVec.agg(
      sum(dec(col("dot")) * dec(col("dot"))).as("sdot2"),
      sum(dec(col("x2"))).as("sx2"))
    perVec.crossJoin(broadcast(totals))
      .withColumn("num", dec(col("dot")) * dec(col("dot")))
      .withColumn("den", dec(col("x2")) * lit(v2))
      .withColumn("cnum", col("sdot2"))
      .withColumn("cden", (col("sx2") * lit(v2)).cast("decimal(38,0)"))
      .select(col("vec_id"), col("dot"),
        when(col("x2") === 0, lit(0.0)).otherwise(
          expr("CAST((20000 * num + den) DIV (2 * den) AS BIGINT)") / lit(10000.0))
          .as("pc1_share"),
        (expr("CAST((20000 * cnum + cden) DIV (2 * cden) AS BIGINT)") / lit(10000.0))
          .as("corpus_share"))
      .orderBy("vec_id")
  }

  private def pcaProjectSql: String = {
    val vk = s"v$pcaIters"
    s"""$pcaCtePrefix,
       |p AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    sum(CAST(e.xf AS HUGEINT) * v.v) AS dot,
       |    sum(CAST(e.xf AS HUGEINT) * e.xf) AS x2
       |  FROM e JOIN $vk v ON e.i = v.dim GROUP BY 1),
       |vn AS (SELECT sum(v * v) AS v2 FROM $vk),
       |tot AS (SELECT sum(dot * dot) AS sdot2, sum(x2) AS sx2 FROM p)
       |SELECT vec_id, CAST(dot AS BIGINT) AS dot,
       |  CASE WHEN x2 = 0 THEN 0.0 ELSE
       |    CAST((20000 * dot * dot + x2 * v2) // (2 * x2 * v2) AS BIGINT) / 10000.0
       |  END AS pc1_share,
       |  CAST((20000 * sdot2 + sx2 * v2) // (2 * sx2 * v2) AS BIGINT) / 10000.0
       |    AS corpus_share
       |FROM p, vn, tot ORDER BY vec_id""".stripMargin
  }

  /** X121 — second principal component by integer Hotelling deflation
    * (`q_pca_deflate`): completes the PCA family to a SPECTRUM read —
    * X109 gives the top direction, this gives the second plus the two
    * numbers that characterize the spectrum's head: `lambda2_share`
    * (= λ₂/tr G) and `gap_ratio` (= λ₂/λ₁, the power method's own
    * convergence rate and the "is there structure or is it isotropic"
    * verdict — ≈1 here, ≈0.5 on the two-spike fixture).
    *
    * Exact integer deflation: the X109 iterate v₁ is rescaled to 10³
    * (den_s = v₁ₛᵀv₁ₛ and num_s = v₁ₛᵀGv₁ₛ stay small enough that
    * every HUGEINT intermediate below fits), and the deflated matrix
    * is D = den_s²·G − num_s·v₁ₛv₁ₛᵀ — EXACTLY den_s²·(G − λ̂₁v̂v̂ᵀ)
    * with λ̂₁ the iterate's Rayleigh quotient, no division anywhere.
    * K = [[pcaIters]] power steps on D reuse the X109 recurrence
    * verbatim (1e6-scale iterates, sign-explicit // rescale); the
    * oracle unrolls the identical steps as MATERIALIZED CTEs over
    * the d² deflated matrix. The X109 contract applies twice over:
    * the result is the exact fixed-K iterate of the declared
    * recurrence — on this near-isotropic corpus v₁ is itself
    * unconverged, so the deflated direction is a spectral-head mix
    * and gap_ratio ≈ 1 says exactly that (both shares are Rayleigh
    * ESTIMATES, not eigenvalues, so λ̂₂ may edge past λ̂₁ and the
    * gap past 1 — 1.0358 at sf0.001, 0.9178 at sf0.01; an invariant
    * λ₂ ≤ λ₁ holds only for the true spectrum, which is the
    * measured-not-assumed honesty of the fixed-K contract); on a
    * two-spike fixture the SAME declared query recovers the second
    * planted direction (SimilaritySpec, ǀcosǀ > 0.95, first spike
    * suppressed below 0.15, gap ≈ the planted 0.49).
    *
    * Ratio numerics: both Rayleigh pairs are taken at 10³ scale
    * (num·den cross-products ≈ 10²⁸·2·10⁴ — inside HUGEINT; the
    * 10⁶-scale cross-product overflows at 10⁴⁰, measured on paper
    * first), 4dp integer HALF_UP. Scale shape: identical to X109 —
    * the corpus pass is X93's GramSketch; everything after is d²
    * driver/dictionary work and a d-row literal output.
    */
  private def pcaDeflate(s: SparkSession, dir: String): DataFrame = {
    val (v1, _, _, tr, gf) = pcaSolve(s, dir)
    def scale3(v: Array[BigInt]): Array[BigInt] =
      v.map(x => (x.abs / 1000) * (if (x < 0) -1 else 1))
    val v1s = scale3(v1)
    val denS = v1s.map(x => x * x).sum
    val numS = quadForm(v1s, gf)
    val w = powerIterate(v1.length,
      (i, j) => denS * denS * gf(i, j) - numS * v1s(i - 1) * v1s(j - 1))
    val w3 = scale3(w)
    val den2 = w3.map(x => x * x).sum
    val num2 = quadForm(w3, gf)
    val share2 = ((BigInt(20000) * num2 + den2 * tr) / (den2 * tr * 2)).toLong / 10000.0
    val gap = ((BigInt(20000) * num2 * denS + numS * den2)
      / (numS * den2 * 2)).toLong / 10000.0
    import s.implicits._
    w.indices.map(i => ((i + 1).toLong, w(i).toLong, share2, gap))
      .toDF("dim", "v2_fixed", "lambda2_share", "gap_ratio")
      .orderBy("dim")
  }

  private def pcaDeflateSql: String = {
    val vk = s"v$pcaIters"
    val steps = (1 to pcaIters).map { k =>
      val pw = s"w${k - 1}"
      s"""z$k AS MATERIALIZED (
         |  SELECT dd.i AS dim, sum(dd.g * $pw.v) AS y
         |  FROM dd JOIN $pw ON dd.j = $pw.dim GROUP BY 1),
         |t$k AS (SELECT greatest(max(abs(y)) // 1000000, 1) AS s FROM z$k),
         |w$k AS MATERIALIZED (
         |  SELECT dim, CASE WHEN y < 0 THEN -(abs(y) // s) ELSE abs(y) // s END AS v
         |  FROM z$k, t$k)"""
    }.mkString(",\n")
    val wk = s"w$pcaIters"
    s"""$pcaCtePrefix,
       |v1s AS MATERIALIZED (
       |  SELECT dim, CASE WHEN v < 0 THEN -(abs(v) // 1000) ELSE abs(v) // 1000 END AS v
       |  FROM $vk),
       |dsn AS (SELECT sum(v * v) AS den FROM v1s),
       |nsn AS (
       |  SELECT sum(a.v * g.g * b.v) AS num
       |  FROM g JOIN v1s a ON g.i = a.dim JOIN v1s b ON g.j = b.dim),
       |dd AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    (SELECT den FROM dsn) * (SELECT den FROM dsn) * g.g
       |      - (SELECT num FROM nsn) * a.v * b.v AS g
       |  FROM g JOIN v1s a ON g.i = a.dim JOIN v1s b ON g.j = b.dim),
       |w0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS v FROM v1s),
       |$steps,
       |wr3 AS MATERIALIZED (
       |  SELECT dim, CASE WHEN v < 0 THEN -(abs(v) // 1000) ELSE abs(v) // 1000 END AS v
       |  FROM $wk),
       |d2n AS (SELECT sum(v * v) AS den FROM wr3),
       |n2n AS (
       |  SELECT sum(a.v * g.g * b.v) AS num
       |  FROM g JOIN wr3 a ON g.i = a.dim JOIN wr3 b ON g.j = b.dim),
       |trn AS (SELECT sum(g) AS tr FROM g WHERE i = j)
       |SELECT CAST($wk.dim AS BIGINT) AS dim, CAST($wk.v AS BIGINT) AS v2_fixed,
       |  CAST((20000 * n2n.num + d2n.den * trn.tr)
       |    // (2 * d2n.den * trn.tr) AS BIGINT) / 10000.0 AS lambda2_share,
       |  CAST((20000 * n2n.num * dsn.den + nsn.num * d2n.den)
       |    // (2 * nsn.num * d2n.den) AS BIGINT) / 10000.0 AS gap_ratio
       |FROM $wk, d2n, n2n, trn, dsn, nsn ORDER BY dim""".stripMargin
  }

  private def pcaPowerSql: String = {
    val vk = s"v$pcaIters"
    s"""$pcaCtePrefix,
       |nm AS (
       |  SELECT sum(a.v * g.g * b.v) AS num
       |  FROM g JOIN $vk a ON g.i = a.dim JOIN $vk b ON g.j = b.dim),
       |dn AS (SELECT sum(v * v) AS den FROM $vk),
       |tr AS (SELECT sum(g) AS tr FROM g WHERE i = j)
       |SELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_fixed,
       |  CAST((20000 * num + den * tr) // (2 * den * tr) AS BIGINT) / 10000.0
       |    AS lambda_share
       |FROM $vk, nm, dn, tr ORDER BY dim""".stripMargin
  }

  /** The q_sim_bucketed oracle as a named statement — X119's recall
    * oracle nests it verbatim, so the monitored index and the
    * standalone query cannot drift.
    */
  private def bucketedSql: String =
    s"""WITH $candSql,
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    list_sum(list_transform(list_zip(e.embedding, q.qe),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
       |  FROM cands e, q)
       |SELECT vec_id, label, round(score, 4) + 0 AS score FROM scored
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  /** X119 — ANN recall monitor (`q_ann_recall`): the index-quality
    * audit a production vector deployment runs CONTINUOUSLY — for
    * each approximate method (sign-LSH buckets, IVF probe, composed
    * IVFADC), the recall@10 of its declared top-10 against the exact
    * brute-force baseline. The README sweep measures this offline at
    * build time; declaring it makes index drift (a re-clustered IVF,
    * a new plane set, a corpus whose geometry moved) visible to the
    * same verify/bench loop as every other operator, with the oracle
    * nesting the EXACT per-method statements so the monitor and the
    * monitored queries cannot diverge.
    *
    * Numerics: overlap counts are exact integers; recall = n/10 is
    * an exact decimal both engines render identically. Each method's
    * top-10 is a 10-row bounded collect (the k-means-centroid
    * class); the literal result table is 3 rows.
    *
    * Scale shape: cost = the three probes + one brute scan — each
    * already individually scale-audited; the monitor adds one
    * bounded driver intersection. On a 100 TB deployment the brute
    * baseline runs over a fixed eval sample rather than the corpus
    * (the X100 bounded-artifact pattern), which this dir-sized
    * corpus stands in for.
    */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = graft.Tables(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        VectorOps.cosine(col("embedding"), qLit(s, dir)).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    Seq(
      ("ivf", ids(simIvf(s, dir))),
      ("ivfpq", ids(simIvfPq(s, dir))),
      ("lsh", ids(simBucketed(s, dir))))
      .map { case (m, got) =>
        val overlap = (got & brute).size.toLong
        (m, overlap, overlap / 10.0)
      }
      .toDF("method", "n_overlap", "recall")
      .orderBy("method")
  }

  private def annRecallSql: String =
    s"""WITH brute AS (
       |  WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |  scored AS (
       |    SELECT e.vec_id,
       |      list_sum(list_transform(list_zip(e.embedding, q.qe),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
       |    FROM embeddings e, q WHERE e.vec_id <> 0)
       |  SELECT vec_id FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10),
       |m_ivf AS ($ivfSql),
       |m_ivfpq AS ($ivfPqSql),
       |m_lsh AS ($bucketedSql),
       |counts AS (
       |  SELECT 'ivf' AS method, count(*) AS n_overlap
       |  FROM m_ivf WHERE vec_id IN (SELECT vec_id FROM brute)
       |  UNION ALL
       |  SELECT 'ivfpq', count(*) FROM m_ivfpq WHERE vec_id IN (SELECT vec_id FROM brute)
       |  UNION ALL
       |  SELECT 'lsh', count(*) FROM m_lsh WHERE vec_id IN (SELECT vec_id FROM brute))
       |SELECT method, CAST(n_overlap AS BIGINT) AS n_overlap,
       |  n_overlap / 10.0 AS recall
       |FROM counts ORDER BY method""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(
    "q_sim_bucketed" -> QueryDef(
      simBucketed,
      Some(bucketedSql),
      "X4-scale OR-amplified sign-LSH multi-probe bucketed cosine top-10"),
    "q_ann_recall" -> QueryDef(
      annRecall,
      Some(annRecallSql),
      "X119 ANN recall monitor: recall@10 of LSH/IVF/IVFADC top-10 vs the exact brute baseline"),
    "q_sim_l2" -> QueryDef(
      simL2,
      Some(s"""WITH $candSql,
              |scored AS (
              |  SELECT e.vec_id, e.label,
              |    list_sum(list_transform(list_zip(e.embedding, q.qe),
              |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
              |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dist_sq
              |  FROM cands e, q)
              |SELECT vec_id, label, round(dist_sq, 4) AS dist_sq FROM scored
              |ORDER BY dist_sq ASC, vec_id ASC LIMIT 10""".stripMargin),
      "X4-scale L2 nearest-10 over the OR-amplified multi-probe candidates"),
    "q_sim_ivf" -> QueryDef(
      simIvf,
      Some(ivfSql),
      "X34 IVF cosine top-10: fixed-centroid coarse cells, literal nprobe probe"),
    "q_sim_pq" -> QueryDef(
      simPq,
      Some(pqSql),
      "X59 product-quantization ADC top-10: 8x8-dim codebook encode, integer lookup sum"),
    "q_sim_ivfpq" -> QueryDef(
      simIvfPq,
      Some(ivfPqSql),
      "X60 IVFADC top-10: cell probe + ADC shortlist + exact rerank, the composed 100TB ANN"),
    "q_sim_sq8" -> QueryDef(
      simSq8,
      Some(sq8Sql),
      "X64 scalar-quantization (SQ8) top-10: per-dim 8-bit affine codes, integer ADC sum"),
    "q_jl_project" -> QueryDef(
      jlProject,
      Some(jlSql),
      "X88 JL +/-1 projection 64->16: exact integer components, per-vector isometry audit"),
    "q_embed_gram" -> QueryDef(
      embedGram,
      Some(embedGramSql),
      "X93 exact embedding gram matrix: one in-row upper-triangle expand + one (i,j) aggregate"),
    "q_ivf_stats" -> QueryDef(
      ivfStats,
      Some(ivfStatsSql),
      "X96 IVF index health: per-cell population/share + the n_max*K/N imbalance verdict"),
    "q_pca_power" -> QueryDef(
      pcaPower,
      Some(pcaPowerSql),
      "X109 PCA top component: X93 gram pass + K=8 portable integer power steps, variance share"),
    "q_pca_project" -> QueryDef(
      pcaProject,
      Some(pcaProjectSql),
      "X110 PCA projection pass: per-vector exact PC1 dot + energy share, corpus share ≡ X109's λ/tr(G)"),
    "q_embed_norms" -> QueryDef(
      embedNorms,
      Some(embedNormsSql),
      "X127 embedding-norm hygiene: bucketed norm² histogram + integer out-of-band verdict"),
    "q_pca_deflate" -> QueryDef(
      pcaDeflate,
      Some(pcaDeflateSql),
      "X121 second PC by integer Hotelling deflation: λ2 share + spectral gap ratio"),
    "q_hard_negatives" -> QueryDef(
      hardNegatives,
      Some(hardNegativesSql),
      "X112 contrastive hard negatives: per-anchor top-K cosine outside the anchor's k-means cell"),
  )

  private def ivfPqSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND ${Clustering.centroidK}),
       |cb AS (
       |  SELECT vec_id AS c, embedding AS ce FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $pqK),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qcell AS (
       |  SELECT cents.cid,
       |    round(list_sum(list_transform(list_zip(q.qe, cents.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM cents, q),
       |probe AS (SELECT cid FROM qcell ORDER BY d2, cid LIMIT $ivfNProbe),
       |dcell AS (
       |  SELECT e.vec_id, cents.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, cents.ce),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM embeddings e, cents),
       |acell AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM dcell) WHERE rn = 1),
       |cand AS (
       |  SELECT e.vec_id, e.label, e.embedding FROM embeddings e
       |  JOIN acell a USING (vec_id)
       |  WHERE e.vec_id <> 0 AND a.cid IN (SELECT cid FROM probe)),
       |js AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS j),
       |dc AS (
       |  SELECT e.vec_id, js.j, cb.c,
       |    round(list_sum(list_transform(
       |      list_zip(e.embedding[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim],
       |               cb.ce[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim]),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS d2
       |  FROM cand e, js, cb),
       |code AS (
       |  SELECT vec_id, j, c,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
       |  FROM dc),
       |qd AS (
       |  SELECT js.j, cb.c,
       |    CAST(round(round(list_sum(list_transform(
       |      list_zip(q.qe[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim],
       |               cb.ce[js.j*$pqSubDim+1 : js.j*$pqSubDim+$pqSubDim]),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) * 10000, 0) AS BIGINT) AS a4
       |  FROM q, js, cb),
       |adc AS (
       |  SELECT code.vec_id, sum(qd.a4) AS adc4
       |  FROM code JOIN qd USING (j, c)
       |  WHERE code.rn = 1 GROUP BY code.vec_id),
       |short AS (
       |  SELECT cand.vec_id, cand.label, cand.embedding
       |  FROM adc JOIN cand USING (vec_id)
       |  ORDER BY adc.adc4, cand.vec_id LIMIT $ivfpqRerank)
       |SELECT s.vec_id, s.label,
       |  round(list_sum(list_transform(list_zip(s.embedding, q.qe),
       |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS dist_sq
       |FROM short s, q
       |ORDER BY dist_sq ASC, s.vec_id ASC LIMIT 10""".stripMargin
}
