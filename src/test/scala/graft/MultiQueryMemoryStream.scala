package graft

import org.apache.spark.sql.{Encoder, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.util.concurrent.atomic.AtomicInteger

/** A MemoryStream safe to share across several concurrently-
  * RESTARTING queries (the hot-reload and supervisor tests): the stock
  * MemoryStream truncates its one row buffer on every `commit`, which
  * is right for a single consumer but loses rows under fan-out. N
  * queries share the one stream object while each tracks its own
  * per-checkpoint progress, so after a stop/restart cycle
  *  - a lagging sibling re-commits an offset another query already
  *    passed, and the whole restarted query dies with "Offsets
  *    committed out of order" (observed ~1-in-3 full-suite runs under
  *    load; never in isolation);
  *  - a leading sibling's commit drops rows a lagging one has not read
  *    yet, and that query reads an empty batch (seen when a frame
  *    arrives while the restarted queries are still catching up).
  *
  * So `commit` is a no-op here and the buffer keeps every row. That is
  * a test-harness artifact, not a semantics issue: `commit` is an
  * advisory buffer-truncation point (the socket source the production
  * gateway reads ignores it entirely, Kafka treats it as progress
  * metadata); each query still reads exactly its own checkpointed
  * offset range, which the assertions of every test using this class
  * verify end-to-end through the sink contents.
  */
final class MultiQueryMemoryStream[A: Encoder](id: Int, sqlContext: SQLContext)
    extends MemoryStream[A](id, sqlContext.sparkSession, None) {
  override def commit(end: OffsetV2): Unit = ()
}

object MultiQueryMemoryStream {
  // ids only need to not collide with the stock MemoryStream counter
  // within one test JVM
  private val ids = new AtomicInteger(9000)
  def apply[A: Encoder]()(implicit sqlContext: SQLContext): MultiQueryMemoryStream[A] =
    new MultiQueryMemoryStream[A](ids.getAndIncrement(), sqlContext)
}
