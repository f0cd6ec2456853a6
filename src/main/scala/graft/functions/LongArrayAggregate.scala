package graft.functions

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

import java.nio.ByteBuffer

/** A typed aggregate over a dense `Array[Long]` buffer, with its one
  * serde: every long in order, 8 big-endian bytes each. Shared by
  * [[CmsSketch]], [[GramSketch]] and [[MinHashSketch]]; [[TopKSketch]]
  * ships only its occupied prefix and keeps its own.
  */
abstract class LongArrayAggregate extends TypedImperativeAggregate[Array[Long]] {

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(java.lang.Long.BYTES * buffer.length)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / java.lang.Long.BYTES)(bb.getLong)
  }
}
