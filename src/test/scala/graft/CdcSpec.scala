package graft

import org.apache.spark.sql.functions._

/** CDC shapes (SCD2 history, MERGE upsert) and temperature mixing:
  * structural invariants the row-hash oracle can't state directly —
  * interval chains must tile each key's timeline, the merge must
  * partition the key space into non-empty action classes, and the
  * temperature targets must actually tilt keep-rates toward small
  * groups.
  */
class CdcSpec extends SparkSpec {

  test("scd2: intervals chain per key, exactly one current version") {
    val hist = SparkEntry.queries("cdc_scd2_history")(spark, sfDir).cache()
    val events = Tables.events(spark, sfDir)
    assert(hist.count() == events.count(), "every change must version")
    // exactly one open interval per key
    val perKey = hist.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"))
    assert(perKey.filter(col("n_open") =!= 1).count() == 0)
    // closed intervals chain: valid_to = the NEXT version's valid_from
    // (replay lead on the result itself and compare)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy("valid_from_us", "event_id")
    val chained = hist
      .withColumn("next_from", lead("valid_from_us", 1).over(w))
      .filter(!col("is_current"))
    assert(chained.filter(col("valid_to_us") =!= col("next_from"))
      .count() == 0, "closed interval must end where the next begins")
  }

  test("merge: all three action branches populated and mutually exact") {
    val merged = SparkEntry.queries("cdc_merge_upsert")(spark, sfDir).cache()
    val byAction = merged.groupBy("action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction.getOrElse("insert", 0L) > 0, "no inserts: remap vacuous")
    assert(byAction.getOrElse("update", 0L) > 0, "no updates")
    assert(byAction.getOrElse("keep", 0L) > 0, "no keeps")
    val nBase = Tables.customer(spark, sfDir).count()
    // keeps + updates = base; inserts are exactly the out-of-dim keys
    assert(byAction("keep") + byAction("update") == nBase)
    val maxKey = nBase - 1
    assert(merged.filter(col("action") === "insert" &&
      col("key") <= maxKey).count() == 0,
      "insert keys must lie outside the dimension")
    // updated rows carry the change value, kept rows the base value
    val updated = merged.filter(col("action") === "update")
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
    assert(updated.join(base, col("key") === col("c_custkey"))
      .filter(col("value") === col("c_acctbal")).count() <
        byAction("update"),
      "updates must actually change values (fixture sanity)")
  }

  test("streaming scd2 emits exactly the batch assembly's closed intervals") {
    val streamed = graft.streaming.StreamOps
      .streamingScd2(spark, sfDir)
      .select("user_id", "event_id", "event_type",
              "valid_from_us", "valid_to_us")
      .collect().toSet
    val batch = SparkEntry.queries("cdc_scd2_history")(spark, sfDir)
      .filter(!col("is_current"))
      .select("user_id", "event_id", "event_type",
              "valid_from_us", "valid_to_us")
      .collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "vacuous: no closed intervals")
  }

  test("streaming scd2 closes a version opened in an EARLIER batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import graft.streaming.StreamOps.Ev
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, user: Long, typ: String) =
      Ev(id, java.sql.Timestamp.valueOf(t), user, typ, 0.0)
    val ms = MemoryStream[Ev]
    // same state transition as StreamOps.streamingScd2 (open version per
    // key; each change closes the previous one)
    val closed = ms.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), (Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev],
         state: GroupState[(Long, Long, String)]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var cur = state.getOption
          sorted.foreach { e =>
            cur.foreach { case (from, id, _) =>
              out += ((id, from, e.ts.getTime)) }
            cur = Some((e.ts.getTime, e.event_id, e.event_type))
          }
          cur.foreach(state.update)
          out.iterator
      }
    val table = freshSinkName("scd2_stream")
    val q = closed.toDF("version_id", "from_ms", "to_ms")
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", 1, "signup"))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0,
        "open version must not emit")
      ms.addData(ev(2, "2024-01-01 11:00:00", 1, "upgrade"))
      q.processAllAvailable()
      val rows = spark.table(table)
        .as[(Long, Long, Long)].collect().toSet
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00").getTime
      assert(rows == Set((1L, t0, t1)),
        s"batch-1 version must close at batch-2's change: $rows")
    } finally q.stop()
  }

  test("temperature mix: keep-rate tilts toward small groups, total ~ half") {
    val kept = SparkEntry.queries("mix_temperature")(spark, sfDir)
      .groupBy("lang").count().withColumnRenamed("count", "n_kept")
    val before = Tables.documents(spark, sfDir)
      .groupBy("lang").count().withColumnRenamed("count", "n_before")
    val rates = kept.join(before, "lang")
      .select(col("lang"), col("n_kept"), col("n_before"),
        expr("(n_kept * 10000) div n_before").as("rate_bp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    val biggest = rates.maxBy(_._3)
    val smallest = rates.minBy(_._3)
    assert(smallest._4 > biggest._4,
      s"α=1/2 must upweight the smallest group: $rates")
    val total = rates.map(_._3).sum
    val keptTotal = rates.map(_._2).sum
    assert(keptTotal <= total / 2, "targets must not exceed the budget")
    assert(keptTotal > total * 2 / 5,
      s"integer rounding should stay near half: $keptTotal of $total")
  }

  test("merge tombstones: all five action classes partition the key space") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("bkey", "bval")
    val changes = Seq(
      (2L, 99.0, "upsert"),   // update
      (3L, 0.0, "delete"),    // delete existing
      (5L, 55.0, "upsert"),   // insert
      (6L, 0.0, "delete"))    // delete of a key the dim never had
      .toDF("ckey", "cval", "op")
    val out = graft.ops.Cdc
      .mergeApplyTombstones(base, changes, "bkey", "ckey", "bval", "cval", "op")
      .as[(Long, String, Option[Double])].collect().toSet
    val want = Set(
      (1L, "keep", Some(10.0)), (4L, "keep", Some(40.0)),
      (2L, "update", Some(99.0)),
      (3L, "delete", None: Option[Double]),
      (5L, "insert", Some(55.0)),
      (6L, "noop_delete", None: Option[Double]))
    assert(out == want)
    // materialized post-merge dim: drop delete/noop rows -> keys 1,2,4,5
    val dim = out.filter(r => r._2 != "delete" && r._2 != "noop_delete")
      .map(_._1)
    assert(dim == Set(1L, 2L, 4L, 5L))
  }

  test("snapshot diff: digest classification equals direct column compare") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("k", "t", "v")
    val newSnap = Seq(
      (1L, "a", 1.0),   // unchanged -> dropped from the diff
      (2L, "b", 9.0),   // value changed
      (3L, "X", 3.0),   // type changed
      (5L, "e", 5.0))   // added; 4 removed
      .toDF("k", "t", "v")
    val out = graft.ops.Cdc
      .snapshotDiff(oldSnap, newSnap, "k", Seq("t", "v"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((2L, "changed"), (3L, "changed"),
                      (4L, "removed"), (5L, "added")))
    // graded fixture: statuses conserve against the injected predicates
    val diff = SparkEntry.queries("cdc_snapshot_diff")(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id")).cache()
    val nAdded = ev.filter(pmod(col("event_id"), lit(97)) === 13 &&
                           pmod(col("event_id"), lit(89)) =!= 7).count()
    val nRemoved = ev.filter(pmod(col("event_id"), lit(89)) === 7 &&
                             pmod(col("event_id"), lit(97)) =!= 13).count()
    val got = diff.groupBy("status").count()
      .as[(String, Long)].collect().toMap
    assert(got.getOrElse("added", 0L) == nAdded)
    assert(got.getOrElse("removed", 0L) == nRemoved)
    // changed = present in both, value bumped (id % 11 == 0)
    val nChanged = ev.filter(pmod(col("event_id"), lit(11)) === 0 &&
                             pmod(col("event_id"), lit(97)) =!= 13 &&
                             pmod(col("event_id"), lit(89)) =!= 7).count()
    assert(got.getOrElse("changed", 0L) == nChanged)
  }

  test("time travel: full-horizon read equals latest-wins state; tombstones hide keys") {
    import spark.implicits._
    val log = graft.ops.Cdc.opLogFromEvents(Tables.events(spark, sfDir))
    // AS OF the max commit == plain latest-wins compaction of the log
    val full = graft.ops.Cdc.timeTravelAsOf(log, 7)
      .as[(Long, Double)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("batch_id").desc, col("ts_us").desc, col("event_id").desc)
    val latest = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(full ===
      latest.filter(col("op") === "upsert")
        .select(col("user_id"), round(col("value"), 2))
        .as[(Long, Double)].collect().toMap)
    // every key whose last op is a tombstone is ABSENT from the read
    val tombstoned = latest.filter(col("op") === "delete")
      .select("user_id").as[Long].collect().toSet
    assert(tombstoned.nonEmpty, "fixture must exercise tombstones")
    assert(full.keySet.intersect(tombstoned).isEmpty)
    // an earlier horizon never sees ops from later commits: replaying
    // batch<=3 equals latest-wins over only those commits
    val early = graft.ops.Cdc.timeTravelAsOf(log, 3)
      .as[(Long, Double)].collect().toMap
    val early3 = log.filter(col("batch_id") <= 3)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("op") === "upsert")
      .select(col("user_id"), round(col("value"), 2))
      .as[(Long, Double)].collect().toMap
    assert(early === early3)
  }
}
