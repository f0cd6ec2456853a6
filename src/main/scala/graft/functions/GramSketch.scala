package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass upper-triangle gram accumulator (X93's scale path): per
  * group, maintains all d(d+1)/2 entries of Σᵥ xᵥxᵥᵀ in a single
  * long buffer — each input row contributes its outer product with
  * two tight loops instead of d(d+1)/2 exploded rows through a
  * hash aggregate. Runs under ObjectHashAggregate with full map-side
  * partial aggregation: a partition ships ONE triangle buffer, and
  * `merge` is an elementwise add. Measured on the sf1-shape fixture
  * this is the difference between 43.9 s (explode + hash-agg over
  * N·d(d+1)/2 rows) and the one-buffer pass — same integers.
  *
  * Input: the millionth-snapped component array (ARRAY<BIGINT>, the
  * X71 snap done by a narrow transform upstream). Output:
  * ARRAY<STRUCT<i BIGINT, j BIGINT, g BIGINT>> with 1 ≤ i ≤ j ≤ d,
  * row-major — exactly the rows the declared query explodes.
  *
  * Exactness bound, documented not hidden: cells accumulate in
  * signed-long arithmetic. With unit-scale components (ǀxǀ ≤ 1 ⇒
  * ǀxfǀ ≤ 10⁶, ǀproductǀ ≤ 10¹²) the worst-case cell overflows past
  * ~9·10⁶ vectors; the declared corpus and the sf1-shape fixture sit
  * orders of magnitude inside that, and SimilaritySpec pins this
  * path elementwise-equal to the DECIMAL(38,0) explode form on every
  * run. A 10⁹-vector deployment promotes the buffer to 128-bit cells
  * (two-long or BigInteger) — the shape stays identical.
  *
  * Registered as SQL function `graft_gram_sketch` by
  * [[GraftExtensions]].
  */
case class GramSketch(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends LongArrayAggregate
  with UnaryLike[Expression] {

  /** buffer layout: [d, g(1,1), g(1,2), …, g(1,d), g(2,2), …, g(d,d)];
    * empty array = no input seen yet (d unknown until the first row).
    */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val buf =
      if (buffer.isEmpty) {
        val b = new Array[Long](1 + d * (d + 1) / 2)
        b(0) = d.toLong
        b
      } else {
        require(buffer(0) == d.toLong,
          s"graft_gram_sketch: mixed embedding dimensions (${buffer(0)} vs $d)")
        buffer
      }
    val xs = new Array[Long](d)
    var i = 0
    while (i < d) { xs(i) = arr.getLong(i); i += 1 }
    var k = 1
    i = 0
    while (i < d) {
      val xi = xs(i)
      var j = i
      while (j < d) {
        buf(k) += xi * xs(j)
        k += 1
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b2.isEmpty) b1
    else if (b1.isEmpty) b2
    else {
      require(b1(0) == b2(0),
        s"graft_gram_sketch: mixed embedding dimensions (${b1(0)} vs ${b2(0)})")
      var k = 1
      while (k < b1.length) { b1(k) += b2(k); k += 1 }
      b1
    }

  override def eval(buffer: Array[Long]): Any = {
    if (buffer.isEmpty) return new GenericArrayData(Array.empty[Any])
    val d = buffer(0).toInt
    val out = new Array[Any](d * (d + 1) / 2)
    var k = 1
    var i = 1
    while (i <= d) {
      var j = i
      while (j <= d) {
        out(k - 1) = new GenericInternalRow(Array[Any](i.toLong, j.toLong, buffer(k)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("g", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_sketch requires ARRAY<BIGINT> input, got ${other.catalogString}")
  }
  override def prettyName: String = "graft_gram_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): GramSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GramSketch =
    copy(child = newChild)
}
