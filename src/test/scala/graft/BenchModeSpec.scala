package graft

/** Bench's two timing flags: `--reps N` and repeatable `--ab k=a,b`. */
class BenchModeSpec extends SparkSpec {

  private def parse(args: String*) = Bench.parseArgs(args.toList)

  test("parsing accepts repeated --ab and --reps; no argument is the board run") {
    val m = parse("--ab", "spark.a=1,2", "--reps", "3", "--ab", "spark.b=x,y")
    assert(m == Right(Bench.Mode(Some(3),
      Seq(("spark.a", "1", "2"), ("spark.b", "x", "y")))))
    assert(m.toOption.get.arms ==
      Seq(Map("spark.a" -> "1", "spark.b" -> "x"), Map("spark.a" -> "2", "spark.b" -> "y")))
    assert(parse().toOption.exists(_.board))
    assert(parse("--reps", "2").toOption.exists(m => !m.board && m.ab.isEmpty))
  }

  test("parsing rejects a malformed --ab, --reps 0 and an unknown flag with a message") {
    for (bad <- Seq(Seq("--ab", "k=a"), Seq("--ab", "=a,b"), Seq("--reps", "0"),
                    Seq("--reps"), Seq("--explain", "d"))) {
      val r = parse(bad: _*)
      assert(r.isLeft, bad)
      assert(r.left.toOption.get.contains(bad.head), r)
    }
  }

  test("--ab over a cheap batch seat restores the conf, whether it was set or unset") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val seat = "q6_filtered_agg"
    val seats = Seq(seat -> SparkEntry.queries(seat))
    val arms = Seq(Map(key -> "1m"), Map(key -> "2m"))
    def explicit = spark.conf.getAll.get(key)
    val before = explicit
    try {
      spark.conf.unset(key)
      val rows = Bench.abCompare(spark, sfDir, seats, arms, reps = 2)
      assert(rows.map(_.seat) == Seq(seat) && rows.forall(_.counted), rows)
      assert(explicit.isEmpty, "an unset conf must be unset again, not pinned to its default")
      spark.conf.set(key, "3m")
      Bench.abCompare(spark, sfDir, seats, arms, reps = 1)
      assert(explicit.contains("3m"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a memo-backed seat is flagged and left out of the totals") {
    val memoSeat = Bench.memoBackedSeats.head
    val cheap: Bench.Seat = (s, _) => s.range(10).toDF()
    val rows = Bench.abCompare(spark, sfDir, Seq(memoSeat -> cheap, "plain" -> cheap),
      Seq(Map.empty, Map.empty), reps = 1)
    assert(rows.map(r => r.seat -> r.counted) == Seq(memoSeat -> false, "plain" -> true))
    val failing: Bench.Seat = (_, _) => sys.error("boom")
    assert(!Bench.abCompare(spark, sfDir, Seq("plain" -> failing),
      Seq(Map.empty, Map.empty), reps = 1).head.counted)
  }
}
