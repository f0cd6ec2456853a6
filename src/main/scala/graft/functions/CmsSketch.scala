package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.security.MessageDigest

/** Count–min sketch (Cormode & Muthukrishnan, J. Algorithms 2005):
  * `depth` rows of `width` counters; each input token increments one
  * counter per row, selected by an independent salted hash. The
  * estimate for a token is the MINIMUM of its `depth` counters — never
  * below the true count (counters only ever add), and within
  * ε·N of it with probability 1 − δ for width = ⌈e/ε⌉, depth =
  * ⌈ln 1/δ⌉.
  *
  * This is the 100 TB companion to the Misra–Gries top-K
  * ([[MisraGries]]): MG answers "which tokens are heavy", CMS answers
  * "how heavy is ANY given token" — in `depth × width` longs of
  * memory per partition, one buffer shipped through map-side partial
  * merge, no shuffle keyed by the unbounded vocabulary. Unlike MG the
  * merge is plain elementwise addition, so sketch contents are
  * PARTITION-ORDER INDEPENDENT: the one-pass distributed sketch is
  * bit-identical to the relational definition (group tokens by
  * (row, bucket), sum counts), which is exactly what the
  * `q_cms_freq` DuckDB oracle recomputes.
  *
  * Hash: bucket_j(tok) = first-4-md5-bytes("cms" ++ j ++ tok)
  * (unsigned, big-endian) mod width — the library-wide `h32` /
  * `('0x' || substr(md5(…), 1, 8))::BIGINT` convention, so SQL on
  * either engine can address the same counters.
  *
  * Registered as SQL function `graft_cms(tok, depth, width)` by
  * [[GraftExtensions]]; returns ARRAY<BIGINT> of length
  * depth × width, row-major (counter (j, b) at index j·width + b).
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends LongArrayAggregate
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val tok = v.asInstanceOf[UTF8String].getBytes
      val md = CmsSketch.md5.get()
      var j = 0
      while (j < depth) {
        md.reset()
        md.update(CmsSketch.salts(j))
        md.update(tok)
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        buffer(j * width + (h % width).toInt) += 1L
        j += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.clone())

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "graft_cms"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {
  /** Row salts, precomputed up to the largest depth any caller uses
    * (validated ≤ 16 at registration). Salt j is the UTF-8 bytes of
    * "cms" + j — matching `md5('cms' || CAST(j AS VARCHAR) || tok)`
    * on the SQL side byte for byte.
    */
  val maxDepth = 16
  private[functions] val salts: Array[Array[Byte]] =
    Array.tabulate(maxDepth)(j => s"cms$j".getBytes("UTF-8"))

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
}
