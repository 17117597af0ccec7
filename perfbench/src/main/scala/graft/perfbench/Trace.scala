package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are milliseconds since the run's clock zero;
  * `parent` is the index of the enclosing span (-1 at the root). */
final case class Span(name: String, start: Double, end: Double, parent: Int, op: Int) {
  def dur: Double = end - start
}

/** Layer counters of one scope (one op, or one vote-stream phase), filled
  * by the listeners on the listener-bus thread. */
final class LayerStats {
  var jobs, stages, tasks, reduceTasks = 0L
  var runMs, gcMs, fetchWaitMs = 0L
  var cpuNs, shuffleWriteNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0.0
  var executions = 0L
  var queryStarts, batches, emptyBatches = 0L
  val startMs = mutable.ArrayBuffer[Double]()
  val durationMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  var stateCommitMs, stateRows, stateBytes = 0L
  /** stage id -> task durations (ms) */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Max over median task time in the stage with the most task time. */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** Listener-based tracer. It registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener from outside the
  * program and attributes every event to the scope that is current when
  * the event is delivered; [[settle]] drains the listener bus so a scope
  * is complete before the next begins. Spans stay in memory until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  private def epochToMs(epochMs: Long): Double = (epochMs - epochMs0).toDouble

  @volatile private var cur = new LayerStats
  @volatile private var curOp = -1
  val spans = mutable.ArrayBuffer[Span]()
  // onQueryStarted runs on the thread that starts the query, progress
  // events on the listener bus
  private val queryStart = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Double]()
  private val jobStart = mutable.Map[Int, Double]()
  private var attached = false

  private def span(name: String, s: Double, e: Double): Unit =
    spans.synchronized { spans += Span(name, s, e, -1, curOp) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      cur.jobs += 1; cur.stages += e.stageInfos.size
      jobStart(e.jobId) = epochToMs(e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(s => span("job", s, epochToMs(e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = cur
      s.tasks += 1
      s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        val r = m.shuffleReadMetrics
        s.shuffleReadBytes += r.totalBytesRead; s.fetchWaitMs += r.fetchWaitTime
        if (r.totalBlocksFetched > 0) s.reduceTasks += 1
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val s = cur
      s.executions += 1
      s.analysisMs += ms("analysis"); s.optimizerMs += ms("optimization")
      s.planningMs += ms("planning")
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def isoMs(ts: String): Double =
    epochToMs(java.time.Instant.parse(ts).toEpochMilli)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      cur.queryStarts += 1
      queryStart.put(e.runId, isoMs(e.timestamp))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = cur
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = isoMs(p.timestamp)
      val trigger = d.getOrElse("triggerExecution", 0.0)
      Option(queryStart.remove(p.runId)).foreach(q => s.startMs += (start + trigger - q.doubleValue))
      if (p.numInputRows == 0) s.emptyBatches += 1
      else {
        s.batches += 1
        d.foreach { case (k, v) => s.durationMs(k) += v }
        p.stateOperators.foreach { so =>
          s.stateCommitMs += so.commitTimeMs
          s.stateRows = s.stateRows max so.numRowsTotal
          s.stateBytes = s.stateBytes max so.memoryUsedBytes
        }
        span("stream.batch", start, start + trigger)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def settle(): Unit = BenchBus.drain(spark.sparkContext)

  /** Start a new scope; returns the stats object the listeners fill. */
  def begin(op: Int): LayerStats = { settle(); curOp = op; cur = new LayerStats; cur }

  /** Close the current scope once every event it caused has arrived. */
  def end(): LayerStats = { settle(); cur }

  def driverSpan(name: String, s: Double, e: Double): Unit = span(name, s, e)

  /** Assign each span the smallest span of the same op that encloses it. */
  def linked: IndexedSeq[Span] = {
    val all = spans.synchronized(spans.toIndexedSeq)
    all.map { s =>
      val enclosing = all.indices.filter { i =>
        val p = all(i)
        (p ne s) && p.op == s.op && p.start <= s.start && p.end >= s.end && p.dur > s.dur
      }
      s.copy(parent = if (enclosing.isEmpty) -1 else enclosing.minBy(all(_).dur))
    }
  }

  /** Self time summed per span name: a span's duration minus the part of
    * its interval that its direct children cover (concurrent children
    * are counted once). */
  def selfTimes(ss: IndexedSeq[Span]): Map[String, Double] = {
    val children = ss.groupBy(_.parent)
    def covered(i: Int): Double =
      children.getOrElse(i, Nil).sortBy(_.start).foldLeft((0.0, Double.NegativeInfinity)) {
        case ((sum, reach), c) =>
          (sum + (c.end - c.start.max(reach)).max(0.0), reach.max(c.end))
      }._1
    ss.indices.groupBy(i => ss(i).name).map { case (n, is) =>
      n -> is.map(i => (ss(i).dur - covered(i)).max(0.0)).sum
    }
  }

  def writeSpans(path: java.nio.file.Path, ss: IndexedSeq[Span]): Unit = {
    val lines = ss.map { s =>
      f"""{"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
