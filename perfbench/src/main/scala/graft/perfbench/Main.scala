package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    ops: Seq[Op],              // timed ops
    setupFailed: Int,          // warm/untimed ops that failed their check
    passS: Seq[Double],        // one value per pass (a seat pass or a drain)
    throughput: Double,        // seat ops/s, or votes/s drained
    stageS: Double,
    warmS: Double,
    valid: Boolean,            // run-level checks (final board, generator)
    layers: Metrics)           // per-layer metrics, filled in traced runs

/** Benchmark entry point, launched by `run.py`:
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --data <dir> --digests <file> --out <file>
  *       --spans <file>`
  *
  * Writes one JSON object (`correct`, `attempted`, `failed`, `metrics`)
  * to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors
    require(workload == VoteStream.Name || workload == Seats.Name,
      s"unknown workload $workload")
    Env.redirectScratch(work.resolve("scratch"))

    val t0 = System.nanoTime()
    val spark = Env.session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val out =
      if (workload == VoteStream.Name)
        VoteStream.run(spark, work, seed, seconds, tracer, cpus)
      else
        runSeats(spark, data, Digest.load(Paths.get(a("digests"))),
          seed, seconds, tracer, cpus)

    val failed = out.ops.count(!_.ok)
    val correct = failed == 0 && out.setupFailed == 0 && out.valid
    val walls = out.ops.map(_.wallS)
    val m = new Metrics
    if (!traced) {
      m("setup_s", "s", sessionS + out.stageS + out.warmS)
      m("op_p50_s", "s", Report.quantile(walls, 0.5))
      m("op_p90_s", "s", Report.quantile(walls, 0.9))
      m("pass_s", "s", Report.median(out.passS))
      m("throughput_per_s", "1/s", out.throughput)
    } else {
      out.layers.values.foreach { case (k, (v, u)) => m(k, u, v) }
      m("setup.session_s", "s", sessionS)
      m("setup.stage_s", "s", out.stageS)
      m("setup.warm_s", "s", out.warmS)
      m("ops.attempted", "count", out.ops.size)
      m("ops.failed", "count", failed)
      m("fail_ratio", "ratio", Report.failRatio(out.ops))
      tracer.foreach { tr =>
        val spans = tr.linked
        tr.writeSpans(Paths.get(a("spans")), spans)
        val timed = spans.filter(_.op >= 0)
        val roots = timed.count(s => s.name == "seat.build" || s.name == "vote.phase").max(1)
        val self = tr.selfTimes(timed)
        Seq("seat.build", "seat.action", "vote.phase", "stream.batch", "job").foreach { n =>
          m(s"self.${n}_ms", "ms", self.getOrElse(n, 0.0) / roots)
        }
      }
    }
    System.err.println("[perfbench] ops " + out.ops.map(o => f"${o.name}=${o.wallS}%.4f").mkString(" "))
    System.err.println(f"[perfbench] $workload seed $seed: session $sessionS%.2f s, stage ${out.stageS}%.2f s, " +
      f"warm ${out.warmS}%.2f s, passes ${out.passS.map(p => f"$p%.2f").mkString(" ")}, ops ${out.ops.size}")
    val json = s"""{"correct": $correct, "attempted": ${out.ops.size}, "failed": $failed, "metrics": ${m.toJson}}"""
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }

  def runSeats(spark: SparkSession, data: String,
               digests: Map[String, String], seed: Long, seconds: Double,
               tracer: Option[Tracer], cpus: Int): Outcome = {
    val mix = Seats.order(Seats.mix, seed)
    val fns = graft.SparkEntry.queries
    def run(seat: String, family: String, tr: Option[Tracer]): Op =
      Seats.op(spark, data, seat, family, digests.get(seat), fns(seat), tr)

    val w0 = System.nanoTime()
    val setupFailed = (1 to Seats.WarmPasses).map { _ =>
      mix.count { case (s, f) => !run(s, f, None).ok }
    }.sum
    val warmS = (System.nanoTime() - w0) / 1e9
    System.gc()
    Report.resetJvm()

    // In a traced run the passes alternate traced / untraced, so the
    // tracer's own cost is measured against the same run.
    val ops = mutable.ArrayBuffer[Op]()
    val stats = mutable.ArrayBuffer[LayerStats]()
    val tracedOps = mutable.ArrayBuffer[Op]()
    val passes = mutable.ArrayBuffer[(Double, Boolean)]()
    val minPasses = if (tracer.isDefined) 2 else 1
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val tr = tracer.filter(_ => pass % 2 == 0)
      tracer.foreach(t => if (tr.isDefined) t.attach() else t.detach())
      val p0 = System.nanoTime()
      mix.foreach { case (seat, family) =>
        tr.foreach(_.begin(ops.size))
        val o = run(seat, family, tr)
        ops += o
        tr.foreach { t => stats += t.end(); tracedOps += o }
      }
      passes += (((System.nanoTime() - p0) / 1e9, tr.isDefined))
      pass += 1
    }
    tracer.foreach(_.detach())
    val passS = passes.map(_._1).toSeq
    System.err.println("[perfbench] seat medians: " + ops.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, os) => f"$n ${Report.median(os.map(_.wallS).toSeq)}%.3f" }.mkString(", "))
    val layers = new Metrics
    tracer.foreach { _ =>
      val n = tracedOps.size.toDouble
      layers("seat.build_s", "s", tracedOps.map(_.buildS).sum / n)
      layers("seat.action_s", "s", tracedOps.map(_.actionS).sum / n)
      layers("seat.rows", "count", tracedOps.map(_.rows).sum / n)
      Report.layers(layers, stats.toSeq, n, tracedOps.map(_.wallS).sum, cpus, stats.toSeq)
      VoteStream.absentVoteLayers(layers)
      val tracedPasses = passes.count(_._2).toDouble
      Seq("ops", "ext", "streaming", "pipeline").foreach { f =>
        layers(s"family.${f}_s", "s", tracedOps.filter(_.family == f).map(_.wallS).sum / tracedPasses)
      }
      Report.jvm(layers)
      val (on, off) = passes.partition(_._2)
      layers("trace.overhead_ratio", "ratio",
        Report.median(on.map(_._1).toSeq) / Report.median(off.map(_._1).toSeq))
    }
    Outcome(ops.toSeq, setupFailed, passS, ops.size / passS.sum, 0.0, warmS,
      valid = true, layers)
  }
}
