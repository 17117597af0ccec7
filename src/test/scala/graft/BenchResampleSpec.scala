package graft

import org.scalatest.funsuite.AnyFunSuite

/** The post-board resample trigger ([[Bench.isResampleOutlier]]) — the
  * in-artifact host-vs-code attribution added round 16: the decision is
  * pure, so it is pinned here instead of waiting for a real host spike
  * to exercise the branch during an official run. */
class BenchResampleSpec extends AnyFunSuite {

  test("a reading >=2.5x its committed floor and >0.5s resamples") {
    assert(Bench.isResampleOutlier(Some(0.85), 13.28)) // the r15 ann_ivf spike
    assert(Bench.isResampleOutlier(Some(0.19), 2.22))  // nested_pruning spike
    // the two r16 ≈2.7x escapes the widened band exists to catch:
    assert(Bench.isResampleOutlier(Some(1.2), 3.20))   // dedup_embedding_cosine
    assert(Bench.isResampleOutlier(Some(1.1), 2.98))   // t32_stream_tws_map_state
  }

  test("the 2x arm needs >=1s of absolute excess") {
    assert(Bench.isResampleOutlier(Some(1.1), 2.3))    // 2.09x, +1.2s -> fires
    assert(!Bench.isResampleOutlier(Some(0.4), 0.9))   // 2.25x but +0.5s only
  }

  test("within-band readings never resample") {
    assert(!Bench.isResampleOutlier(Some(0.85), 1.65)) // < 2x
    assert(!Bench.isResampleOutlier(Some(0.85), 1.8))  // 2.1x, excess 0.95s
  }

  test("sub-half-second readings are jitter, not outliers") {
    assert(!Bench.isResampleOutlier(Some(0.05), 0.4)) // 8x but tiny
  }

  test("no committed history or a degenerate floor never resamples") {
    assert(!Bench.isResampleOutlier(None, 99.0))
    assert(!Bench.isResampleOutlier(Some(0.0), 99.0))
    assert(!Bench.isResampleOutlier(Some(-1.0), 99.0)) // failed-seat sentinel
  }

  test("floors come only from rounds that ran their seats in full") {
    val dir = java.nio.file.Files.createTempDirectory("graft_floors")
    try {
      def write(name: String, json: String): Unit =
        java.nio.file.Files.writeString(dir.resolve(name), json)
      write("bench_perquery_r20.json",
        """{"metric":"total","action":"noop","queries":{"a":1.5,"b":2.0}}""")
      // a count()-era round: its minima are no floor of a full run
      write("bench_perquery_r21.json",
        """{"metric":"total","queries":{"a":0.1,"c":0.2}}""")
      assert(Bench.committedFloors(dir.toFile) === Map("a" -> 1.5, "b" -> 2.0))
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      java.nio.file.Files.delete(dir)
    }
  }

  test("every memo-backed seat name resolves to a live board seat") {
    // the flag list is maintained by hand next to the shared-run memos;
    // a renamed or retired seat here would silently stop being flagged
    // in the artifact, so pin each name against the query map
    val board = SparkEntry.queries.keySet
    val dangling = Bench.memoBackedSeats.filterNot(board)
    assert(dangling.isEmpty,
      s"memoBackedSeats names not on the board: $dangling")
  }
}
