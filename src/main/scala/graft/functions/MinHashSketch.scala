package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** One-pass MinHash signature sketch (SURVEY.md §4 stretch; the
  * repo's first custom aggregate): for each group, maintains all
  * [[MinHashSketch.numHashes]] slot minima over the affine-mixed
  * 32-bit base hash in a single 64-byte buffer — the shape a 100 TB
  * signature build wants. Runs under ObjectHashAggregate with full
  * map-side partial aggregation: each partition ships one 8-long
  * buffer per doc, not 8 separate min columns through a row-based
  * fallback, and `merge` is an elementwise min.
  *
  * Arithmetic is IDENTICAL to the declarative 8-column `min()` form
  * (slot i = min over shingles of (base·mixA(i)+mixB(i)) mod 2³¹−1;
  * base pre-reduced mod 2³¹ by the caller so the product stays in
  * signed-long range) — DedupSpec pins elementwise equality of the
  * two paths, and the DuckDB oracle states the same formula.
  *
  * Registered as SQL function `graft_minhash_sig` by
  * [[GraftExtensions]]; used via `call_function` from
  * `graft.operators.Dedup`.
  */
case class MinHashSketch(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends LongArrayAggregate
  with UnaryLike[Expression] {

  import MinHashSketch._

  override def createAggregationBuffer(): Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val h = (base * mixA(i) + mixB(i)) % mod
        if (h < buffer(i)) buffer(i) = h
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer.clone())

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires BIGINT input, got ${child.dataType.catalogString}")
  override def prettyName: String = "graft_minhash_sig"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)
}

object MinHashSketch {

  /** Universal-hash family over ONE md5 per shingle: slot i is an
    * affine mix (odd multiplier, fixed offset, mod 2³¹−1) of the base
    * 32-bit hash — 8× fewer md5 evaluations than hashing per slot,
    * identical arithmetic in the DuckDB oracle (Dedup.minhashCandSql
    * interpolates these constants into the SQL).
    */
  val mixA: IndexedSeq[Long] =
    IndexedSeq(1L, 2654435761L, 2246822519L, 3266489917L, 668265263L, 374761393L, 2166136261L, 40503L)
  val mixB: IndexedSeq[Long] =
    IndexedSeq(0L, 1013904223L, 1640531527L, 97L, 1000003L, 69069L, 362437L, 48271L)
  val mod: Long = 2147483647L
  val numHashes: Int = mixA.size
}
