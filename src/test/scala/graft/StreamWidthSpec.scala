package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StreamOps

/** Each streaming seat owns its state width: the query pins the width
  * its seat writes, whatever the session's shuffle width is when the
  * seat runs. The session is narrowed to 2 around every seat, so a seat
  * that fell back to the session width would pin 2 instead of its own. */
class StreamWidthSpec extends SparkSpec {

  private val sessionWidth = 2

  /** Run `seat` with the session at [[sessionWidth]] and return what its
    * drained query pinned: the shuffle width in the offset-log metadata
    * (what a restart reuses), and every state operator's partition
    * count across its micro-batches. */
  private def pinned(seat: => DataFrame): (Int, Seq[Long]) = {
    StreamOps.lastDrained = null
    StreamOps.withConf(spark,
        Map("spark.sql.shuffle.partitions" -> sessionWidth.toString)) {
      seat.collect()
    }
    val q: StreamingQuery = StreamOps.lastDrained
    assert(q != null, "the seat drained no query")
    val conf = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.offsetSeqMetadata.conf
    (conf("spark.sql.shuffle.partitions").toInt,
      q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numShufflePartitions))
        .distinct)
  }

  test("t3 and t17 pin width 8 whatever the session width") {
    assert(pinned(StreamOps.cumulativeTally(spark, sfDir)) === (8, Seq(8L)))
    // t17 routes rows in foreachBatch: no state operator, the width is
    // pinned in the offset log all the same
    assert(pinned(StreamOps.deadLetterSplit(spark, sfDir)) === (8, Seq()))
  }

  test("t4 and t9 pin width 4 while the session is at 2") {
    assert(pinned(StreamOps.lateDropHourly(spark, sfDir)) === (4, Seq(4L)))
    assert(pinned(StreamOps.streamingSessionCounts(spark, sfDir)) ===
      (4, Seq(4L)))
  }

  test("t53 keeps the session width") {
    assert(pinned(StreamOps.streamingIncrementalDedup(spark, sfDir)) ===
      (sessionWidth, Seq()))
  }
}
