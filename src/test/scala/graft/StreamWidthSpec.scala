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
    val q = drained(seat)
    val conf = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.offsetSeqMetadata.conf
    (conf("spark.sql.shuffle.partitions").toInt,
      q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numShufflePartitions))
        .distinct)
  }

  /** Run `seat` with the session at [[sessionWidth]]; its drained query. */
  private def drained(seat: => DataFrame): StreamingQuery = {
    StreamOps.lastDrained = null
    StreamOps.withConf(spark,
        Map("spark.sql.shuffle.partitions" -> sessionWidth.toString)) {
      seat.collect()
    }
    val q: StreamingQuery = StreamOps.lastDrained
    assert(q != null, "the seat drained no query")
    q
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

  test("the outer interval joins end on a no-data batch, inner and semi " +
       "do not, and all five pin width 4") {
    // the outer flavors emit their null rows when the watermark evicts
    // them, in the trailing no-data batch; inner and semi emit from data
    // batches only
    Seq[(String, () => DataFrame, Boolean)](
      ("t10", () => StreamOps.streamStreamIntervalJoin(spark, sfDir), false),
      ("t20", () => StreamOps.streamStreamLeftOuterJoin(spark, sfDir), true),
      ("t36", () => StreamOps.streamStreamFullOuterJoin(spark, sfDir), true),
      ("t40", () => StreamOps.streamStreamRightOuterJoin(spark, sfDir), true),
      ("t38", () => StreamOps.streamStreamSemiJoin(spark, sfDir), false)
    ).foreach { case (seat, run, endsOnNoData) =>
      val progress = drained(run()).recentProgress.toSeq
      assert(progress.nonEmpty, s"$seat ran no micro-batch")
      assert((progress.last.numInputRows == 0) === endsOnNoData,
        s"$seat batches: ${progress.map(_.numInputRows)}")
      assert(progress.exists(_.numInputRows > 0), s"$seat read no data")
      assert(progress.flatMap(_.stateOperators.map(_.numShufflePartitions))
        .distinct === Seq(4L), s"$seat state width")
    }
  }
}
