package graft.perfbench

import scala.collection.mutable

import org.apache.commons.math3.distribution.BetaDistribution

/** One timed op: a seat call plus its full collect, or one vote file from
  * its due time to the first board that includes it. */
final case class Op(name: String, family: String, wallS: Double,
                    buildS: Double, actionS: Double, rows: Long, ok: Boolean)

/** Named metric values with units, in the order they were added. */
final class Metrics {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def toJson: String = values.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    s""""$k": {"value": $num, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

object Report {
  /** Harrell-Davis estimate of the q-quantile, q in (0, 1): a Beta-weighted
    * mean of all order statistics. On the 24-72 ops of a run it is much
    * steadier than one or two order statistics, most of all where seats
    * with different typical times meet. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val n = s.size
    val beta = new BetaDistribution(null, q * (n + 1), (1 - q) * (n + 1),
      BetaDistribution.DEFAULT_INVERSE_ABSOLUTE_ACCURACY)
    s.indices.map { i =>
      s(i) * (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n))
    }.sum
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Ops that failed or returned wrong output, over ops attempted. */
  def failRatio(ops: Seq[Op]): Double = ops.count(!_.ok).toDouble / ops.size.max(1)

  /** Per-layer metrics of the listener-fed scopes. Counts and times are
    * per op (`units` ops in the scopes), `stream.*_ms` phases per
    * micro-batch, state size the largest seen; `wallS` is the scopes'
    * summed wall time.
    * Query starts come from `startScopes`: the vote stream starts its
    * long-lived query during set-up. */
  def layers(m: Metrics, scopes: Seq[LayerStats], units: Double, wallS: Double,
             cores: Int, startScopes: Seq[LayerStats]): Unit = {
    def tot(f: LayerStats => Double) = scopes.map(f).sum
    def per(f: LayerStats => Double) = tot(f) / units.max(1.0)
    val runS = tot(_.runMs) / 1e3
    val cpuS = tot(_.cpuNs) / 1e9
    m("plan.analysis_ms", "ms", per(_.analysisMs))
    m("plan.optimizer_ms", "ms", per(_.optimizerMs))
    m("plan.planning_ms", "ms", per(_.planningMs))
    m("plan.executions", "count", per(_.executions.toDouble))
    m("sched.jobs", "count", per(_.jobs.toDouble))
    m("sched.stages", "count", per(_.stages.toDouble))
    m("sched.tasks", "count", per(_.tasks.toDouble))
    m("sched.driver_overhead_s", "s", (wallS - runS / cores) / units.max(1.0))
    val skews = scopes.filter(_.stageTasks.nonEmpty).map(_.taskSkew)
    m("sched.task_skew", "ratio", if (skews.isEmpty) 1.0 else median(skews))
    m("exec.run_s", "s", runS / units.max(1.0))
    m("exec.cpu_s", "s", cpuS / units.max(1.0))
    m("exec.gc_s", "s", tot(_.gcMs) / 1e3 / units.max(1.0))
    m("exec.cpu_util", "ratio", if (wallS > 0) cpuS / (wallS * cores) else 0.0)
    m("shuffle.write_bytes", "B", per(_.shuffleWriteBytes.toDouble))
    m("shuffle.write_s", "s", per(_.shuffleWriteNs / 1e9))
    m("shuffle.read_bytes", "B", per(_.shuffleReadBytes.toDouble))
    m("shuffle.fetch_wait_s", "s", per(_.fetchWaitMs / 1e3))
    m("shuffle.spill_bytes", "B", per(_.spillBytes.toDouble))
    m("shuffle.reduce_tasks", "count", per(_.reduceTasks.toDouble))
    m("stream.query_starts", "count", startScopes.map(_.queryStarts).sum / units.max(1.0))
    val starts = startScopes.flatMap(_.startMs)
    m("stream.start_ms", "ms", if (starts.isEmpty) 0.0 else median(starts))
    val batches = tot(_.batches.toDouble)
    m("stream.batches", "count", per(_.batches.toDouble))
    m("stream.empty_batches", "count", per(_.emptyBatches.toDouble))
    def perBatch(k: String) = if (batches > 0) tot(_.durationMs(k)) / batches else 0.0
    Seq("trigger" -> "triggerExecution", "addBatch" -> "addBatch",
        "queryPlanning" -> "queryPlanning", "walCommit" -> "walCommit",
        "commitOffsets" -> "commitOffsets", "latestOffset" -> "latestOffset",
        "getBatch" -> "getBatch").foreach { case (n, k) =>
      m(s"stream.${n}_ms", "ms", perBatch(k))
    }
    m("stream.state_commit_ms", "ms",
      if (batches > 0) tot(_.stateCommitMs.toDouble) / batches else 0.0)
    m("stream.state_rows", "count", scopes.map(_.stateRows).maxOption.getOrElse(0L).toDouble)
    m("stream.state_bytes", "B", scopes.map(_.stateBytes).maxOption.getOrElse(0L).toDouble)
  }

  /** GC time and peak heap of this JVM since [[resetJvm]]. */
  private var gcBase = 0L
  private def gcMsNow: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime.max(0L)).sum
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetJvm(): Unit = { gcBase = gcMsNow; heapPools.foreach(_.resetPeakUsage()) }
  def jvm(m: Metrics): Unit = {
    m("jvm.gc_pause_s", "s", (gcMsNow - gcBase) / 1e3)
    m("jvm.heap_peak_mb", "MB", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
