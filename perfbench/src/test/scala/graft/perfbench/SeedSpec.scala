package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The seed decides seat order and vote arrival order, never the output. */
class SeedSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = {
    Env.redirectScratch(work.resolve("scratch"))
    Env.session(2, work)
  }
  private val data = Paths.get("data", "sf0.01").toAbsolutePath.toString
  private lazy val digests = Digest.load(Paths.get("digests.json"))

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(work.toFile)
  }

  test("two seeds give different seat orders over the same mix") {
    val mix = Seats.mix
    val a = Seats.order(mix, 1L)
    val b = Seats.order(mix, 2L)
    assert(a != b)
    Seq(a, b).foreach(o => assert(o.sorted == mix.sorted))
    assert(a == Seats.order(mix, 1L), "same seed, same order")
  }

  test("two seeds give different arrival assignments over the same blocks") {
    val a = VoteStream.arrivalBlocks(40, 8, 1L)
    val b = VoteStream.arrivalBlocks(40, 8, 2L)
    assert(a != b)
    assert(a.sorted == b.sorted && a.sorted == (0 until 8).flatMap(Seq.fill(5)(_)).sorted)
  }

  test("both seeds' seat orders reproduce the committed digests") {
    val mix = Seq("a1_salted_skew" -> "ops", "text_langid" -> "ext")
    val fns = graft.SparkEntry.queries
    for (seed <- Seq(1L, 2L); (seat, fam) <- Seats.order(mix, seed)) {
      val op = Seats.op(spark, data, seat, fam, digests.get(seat), fns(seat), None)
      assert(op.ok, s"$seat under seed $seed")
    }
  }

  test("a wrong digest is counted as a failed op") {
    val seat = "a1_salted_skew"
    val fn = graft.SparkEntry.queries(seat)
    val good = Seats.op(spark, data, seat, "ops", digests.get(seat), fn, None)
    val bad = Seats.op(spark, data, seat, "ops", Some("5:deadbeef"), fn, None)
    assert(good.ok && !bad.ok)
    assert(Report.failRatio(Seq(good, bad)) == 0.5)
  }

  test("two seeds' arrival orders end on the same, closed-form board") {
    val nBlocks = 4
    val root = graft.TmpDirs.create("seed_board_")
    val staged = VoteStream.render(spark, root.resolve("staged"), nBlocks, 2)
    val boards = Seq(1L, 2L).map { seed =>
      val blocks = VoteStream.arrivalBlocks(nBlocks, nBlocks, seed)
      val topic = Files.createDirectories(root.resolve(s"topic-$seed"))
      val files = VoteStream.arrivalFiles(staged, blocks, root.resolve(s"arrivals-$seed"))
      val arrived = new AtomicInteger()
      val p = new VoteStream.Pipeline(spark, topic, root.resolve(s"board-$seed"),
        root.resolve(s"ckpt-$seed"), blocks, arrived)
      try {
        files.grouped(2).foreach { g =>
          VoteStream.deliver(g, topic, arrived)
          assert(p.awaitIncluded(arrived.get, 120))
        }
        assert(p.allOk, s"a board of seed $seed broke the closed form")
        p.writtenBoard
      } finally p.stop()
    }
    assert(boards(0) == boards(1))
    assert(boards(0) == VoteStream.closedForm(0, nBlocks.toLong * VoteStream.VotesPerFile))
  }
}
