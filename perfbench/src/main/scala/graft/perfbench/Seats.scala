package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The seat workload: a closed loop with one client over a fixed mix of
  * `SparkEntry.queries` seats. Every op is the seat call plus a full
  * `collect()` (never `count()`, which lets Catalyst skip most of a seat),
  * checked against the seat's committed digest. */
object Seats {
  val Name = "batch_seats"

  /** seat -> module family that owns it. Catalyst planning, exchanges,
    * joins and skew in `ops`, and the `ext` tiers; no streaming. */
  val Mix: Seq[(String, String)] = Seq(
    "q21_waiting_supplier" -> "ops",
    "q5_local_supplier" -> "ops",
    "a1_salted_skew" -> "ops",
    "j7b_salted_join_skewed" -> "ops",
    "dedup_incremental" -> "ext",
    "text_langid" -> "ext")

  /** Untimed passes before the timed ones: the first call of a seat pays
    * code generation and its staged layouts. */
  val WarmPasses = 1

  /** The mix. Memo-backed seats are never in it: their repeat call reads
    * back a memoized run. */
  def mix: Seq[(String, String)] = {
    require(Mix.forall { case (s, _) => !graft.Bench.memoBackedSeats(s) },
      "a memo-backed seat is in the mix")
    Mix
  }

  /** The seat order of every pass of a run: the seed shuffles it once.
    * A seat's time grows with the number of other seats run since its
    * last call, because the program's caches (generated code among them)
    * are bounded. A fixed order runs each seat after the same five others
    * every time, so those caches are in the same state at each call in
    * every run, whatever the seed. */
  def order(mix: Seq[(String, String)], seed: Long): Seq[(String, String)] =
    new Random(seed).shuffle(mix)

  /** Run one op. The digest check is outside the op's timed interval. */
  def op(spark: SparkSession, dataDir: String, seat: String, family: String,
         expected: Option[String], fn: (SparkSession, String) => DataFrame,
         tracer: Option[Tracer]): Op = {
    val t0 = System.nanoTime()
    val ms0 = tracer.map(_.nowMs).getOrElse(0.0)
    var built = t0
    var builtMs = ms0
    val result =
      try {
        val df = fn(spark, dataDir)
        built = System.nanoTime(); builtMs = tracer.map(_.nowMs).getOrElse(0.0)
        Right(df.collect())
      } catch { case e: Throwable => Left(e) }
    val t2 = System.nanoTime()
    tracer.foreach { tr =>
      val ms2 = tr.nowMs
      tr.driverSpan("seat.build", ms0, builtMs)
      tr.driverSpan("seat.action", builtMs, ms2)
    }
    val (rows, ok) = result match {
      case Right(rs) =>
        val d = Digest.of(rs)
        val good = expected.contains(d)
        if (!good) System.err.println(s"[perfbench] $seat: digest $d != expected ${expected.getOrElse("<none>")}")
        (rs.length.toLong, good)
      case Left(e) =>
        System.err.println(s"[perfbench] $seat failed: $e")
        (0L, false)
    }
    Op(seat, family, (t2 - t0) / 1e9, (built - t0) / 1e9, (t2 - built) / 1e9, rows, ok)
  }
}
