package graft

import org.apache.spark.sql.functions._
import graft.ops.{RangeJoin, Sessionize, Sketches}
import graft.ext.DedupOps

/** Mergeable sketches, attribution, streaks, canonical selection. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("dynamic-gap session windows: engine merge equals the interval " +
       "union-find replay, and the per-type gap genuinely matters") {
    val got = SparkEntry.queries("sessionize_dynamic_gap")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // driver replay of the merge rule: sorted by start, an event joins
    // the open session iff its start is below the running max end
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, Long, String)].collect()
    val want = ev.groupBy(_._1).flatMap { case (u, xs) =>
      val iv = xs.map { case (_, us, t) =>
        (us, us + (if (t == "purchase") 3600L else 1800L) * 1000000L) }
        .sortBy(identity)
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var (s0, e0, n0) = (0L, Long.MinValue, 0L)
      iv.foreach { case (st, en) =>
        if (st >= e0) {
          if (n0 > 0) sessions += ((s0, e0, n0))
          s0 = st; e0 = en; n0 = 1
        } else { e0 = math.max(e0, en); n0 += 1 }
      }
      if (n0 > 0) sessions += ((s0, e0, n0))
      sessions.map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    assert(got === want, "engine session merge must equal the replay")
    // non-vacuous: the 30-minute fixed gap must yield a DIFFERENT
    // session set (boundary comparison, not just counts — counts can
    // coincide while merges in one user offset splits in another)
    val fixed = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")),
        unix_micros(col("w.end")), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fixed !== got,
      "fixture never exercises the purchase-extended gap — dynamic " +
        "and fixed sessionization coincide")
  }

  test("approx_top_k: exact below capacity; sharded accumulate+combine " +
       "equals the single-pass sketch") {
    val ev = Tables.events(spark, sfDir)
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val one = ev.agg(expr("approx_top_k(event_type, 10)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .as[(String, Long)].collect().toMap
    assert(one === exact,
      "below maxItemsTracked the sketch must be exact")
    val merged = ev.withColumn("par", pmod(col("event_id"), lit(2)))
      .groupBy("par")
      .agg(expr("approx_top_k_accumulate(event_type, 10)").as("st"))
      .agg(expr("approx_top_k_combine(st)").as("c"))
      .select(explode(expr("approx_top_k_estimate(c, 10)")).as("e"))
      .select(col("e.item"), col("e.count"))
      .as[(String, Long)].collect().toMap
    assert(merged === exact,
      "shard-accumulate + combine must merge losslessly below capacity")
  }

  test("sketch_approx_topk_merge is exact with static plans, where shard " +
       "sketches leave shuffle partitions empty") {
    val rows = graft.streaming.StreamOps.withConf(spark,
        Map("spark.sql.adaptive.enabled" -> "false")) {
      SparkEntry.queries("sketch_approx_topk_merge")(spark, sfDir)
        .select("sketch_exact").as[Boolean].collect()
    }
    assert(rows.nonEmpty && rows.forall(identity))
  }

  test("approx_top_k over capacity: planted heavy hitters surface with " +
       "bounded estimates on a deterministic single-partition fixture") {
    // 3 heavy keys (1000 each) over a 200-key uniform background (15
    // each); capacity 32 << 203 distinct forces the approximation path.
    // coalesce(1) pins the merge order, so the reading is deterministic.
    val df = spark.range(0, 6000)
      .select((col("id") % 3).cast("string").as("k"))
      .union(spark.range(0, 3000)
        .select(concat(lit("bg_"), col("id") % 200).as("k")))
      .coalesce(1)
    val top = df.agg(expr("approx_top_k(k, 3, 32)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .as[(String, Long)].collect()
    assert(top.map(_._1).toSet === Set("0", "1", "2"),
      s"the 3 planted heavy keys must be the top-3: ${top.toSeq}")
    top.foreach { case (k, n) =>
      assert(math.abs(n - 2000L) <= 300L,
        s"estimate for heavy key $k drifted: $n (exact 2000)")
    }
  }

  test("HLL merge: daily-union verdicts hold and exact matches countDistinct") {
    val out = Sketches.hllMergeDistinct(Tables.events(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("merged_within_5pct"),
        s"merged estimate off for ${r.getAs[String]("event_type")}")
      assert(r.getAs[Boolean]("merge_vs_global_within_1pct"),
        s"daily merge diverged from global sketch for ${r.getAs[String]("event_type")}")
    }
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(
      r.getAs[Long]("n_users_exact") === exact(r.getAs[String]("event_type"))))
  }

  test("HLL union is associative: shard-merge equals global estimate exactly at test cardinality") {
    val ev = Tables.events(spark, sfDir)
    val sharded = ev
      .groupBy((col("user_id") % 7).as("shard"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .head().getLong(0)
    val global = ev
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .head().getLong(0)
    assert(sharded === global)
  }

  test("CMS verdicts hold and estimates never undercount") {
    val out = Sketches.cmsHeavyHitters(Tables.events(spark, sfDir)).collect()
    assert(out.length === 5)
    out.foreach(r => assert(r.getAs[Boolean]("cms_within_bound"),
      s"CMS bound violated for key ${r.getAs[Long]("hot_key")}"))
  }

  test("linear attribution conserves credit: sum over hours = 1M per fully-attributed conversion") {
    val ev = Tables.events(spark, sfDir)
    val out = RangeJoin.linearAttribution(ev, "purchase", "click", 3600L)
    val totalCredit = out.agg(sum("credit_micro")).head().getLong(0)
    val pairs = RangeJoin.trailingWindowPairs(ev, "purchase", "click", 3600L)
    val perConv = pairs.groupBy("left_id").agg(count(lit(1)).as("n"))
    // each conversion distributes n * (1000000 div n) micro-units — the
    // integer-division remainder (< n) is deliberately dropped, never
    // smeared; reproduce that sum exactly
    val expected = perConv
      .agg(sum(expr("n * (1000000 div n)"))).head().getLong(0)
    assert(totalCredit === expected)
    val nConvs = perConv.count()
    assert(nConvs > 0L)
    assert(totalCredit <= nConvs * 1000000L)
  }

  test("attribution plans as hash joins — the bucketed rewrite, never a nested loop") {
    val plan = RangeJoin
      .linearAttribution(Tables.events(spark, sfDir), "purchase", "click", 3600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in attribution plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "nested-loop range join — the bucketed equi-join rewrite regressed")
  }

  test("streaks: injected user with known gap pattern") {
    import spark.implicits._
    // days 1,2,3 then 5,6 then 10 → streaks 3,2,1; 6 active days
    val ts = Seq(1, 2, 3, 5, 6, 10).map(d =>
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"))
    val df = ts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, 999L, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessionize.activityStreaks(df).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_active_days") === 6L)
    assert(r.getAs[Long]("max_streak") === 3L)
    assert(r.getAs[Long]("n_streaks") === 3L)
  }

  test("trailing actives: windowed rewrite equals the brute trailing self-join") {
    import graft.ops.EventAnalytics
    val ev = Tables.events(spark, sfDir)
    val out = EventAnalytics.trailingActiveUsers(ev, 7)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ud = ev.select(col("user_id"),
      datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("day"))
      .distinct()
    val brute = ud.select(col("day").as("win_day")).distinct()
      .join(ud, col("day").between(col("win_day") - 6, col("win_day")))
      .groupBy("win_day").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === brute)
    assert(out.nonEmpty)
  }

  test("negative sampling: different label, first probe wins, high coverage") {
    import graft.ext.SampleOps
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val n = labels.size.toLong
    val out = SampleOps.negativePairs(emb, "vec_id", "label").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val a = r.getAs[Long]("anchor_id"); val neg = r.getAs[Long]("neg_id")
      assert(r.getAs[Int]("anchor_label") !== r.getAs[Int]("neg_label"))
      assert(labels(neg) === r.getAs[Int]("neg_label"))
      // the kept negative is the FIRST different-label probe
      val expected = (0 until 3).iterator
        .map(j => (a * 37 + 11 * j + 1) % n)
        .find(c => labels(c) != labels(a))
      assert(expected.contains(neg), s"anchor $a")
    }
    // with ~10 balanced labels, missing anchors (all 3 probes same-label)
    // should be rare
    assert(out.length >= (n * 9) / 10)
  }

  test("CDC chunks: token conservation and edit-robust boundaries") {
    import graft.ext.TextOps
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val out = TextOps.cdcChunks(docs, 16)
    // conservation: chunk tokens re-assemble each doc's word count
    val perDoc = out.groupBy("doc_id").agg(sum("n_tokens").as("n"))
    val words = docs.select(col("doc_id"),
      size(expr("filter(split(text, ' '), w -> w <> '')")).as("n_words"))
    val bad = perDoc.join(words, "doc_id")
      .filter(col("n") =!= col("n_words")).count()
    assert(bad === 0L)
    // THE content-defined property: prepending one word shifts boundaries
    // by exactly one position instead of re-slicing the document
    val text = docs.orderBy("doc_id").select("text").head().getString(0)
    def boundaries(t: String): Set[Int] =
      TextOps.cdcChunks(Seq((0L, t)).toDF("doc_id", "text"), 16)
        .filter(col("chunk_id") > 0).select("start_pos")
        .collect().map(_.getInt(0)).toSet
    val orig = boundaries(text)
    val prefixed = boundaries("zzz " + text)
    assert(orig.nonEmpty, "fixture doc produced no boundaries; pick another")
    assert(prefixed.filter(_ >= 3).map(_ - 1) === orig.filter(_ >= 2),
      "boundaries did not shift rigidly under a single-word prepend")
  }

  test("interpolation: known cells untouched, gap cells on the exact integer line") {
    import graft.ops.EventAnalytics
    import spark.implicits._
    val out = EventAnalytics.interpolateHourly(Tables.events(spark, sfDir))
    assert(out.filter(col("interpolated") &&
      col("v_cents").isNotNull).count() > 0, "no interior gaps at this SF")
    // crafted series: hours 0 and 3 observed, 1-2 missing → exact thirds
    val ts = Seq(("2024-01-01 00:30:00", 3.00), ("2024-01-01 03:10:00", 9.00))
      .map { case (t, v) => (java.sql.Timestamp.valueOf(t), v) }
    val df = ts.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, t, 1L, "click", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventAnalytics.interpolateHourly(df)
      .orderBy("hour").select("v_cents", "interpolated")
      .as[(Long, Boolean)].collect().toSeq
    assert(got === Seq((300L, false), (500L, true), (700L, true),
      (900L, false)))
  }

  test("group top-k: each group cut at k, members equal brute per-group top") {
    import graft.ops.Windows
    val out = Windows.topKPerGroup(Tables.events(spark, sfDir), 3)
    val sizes = out.groupBy("event_type").count().collect()
    assert(sizes.nonEmpty)
    sizes.foreach(r => assert(r.getLong(1) <= 3L))
    // brute: per group, sort totals and take 3
    val totals = Tables.events(spark, sfDir)
      .groupBy("event_type", "user_id")
      .agg(round(sum("value"), 2).as("tv")).collect()
      .groupBy(_.getString(0))
    val expected = totals.toSeq.flatMap { case (g, rows) =>
      rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(3)
        .map(r => (g, r.getLong(1))).toSeq
    }.toSet
    val got = out.select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("PIT enrich: every purchase inherits its as-of version, never a later one") {
    import graft.ops.Cdc
    val ev = Tables.events(spark, sfDir)
    val out = Cdc.pitEnrich(ev).collect()
      .map(r => r.getAs[Long]("purchase_id") -> r.getAs[Long]("tier")).toMap
    // brute as-of: latest signup at-or-before each purchase, per user
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .collect()
    var covered = 0
    purchases.foreach { r =>
      val pid = r.getLong(0); val u = r.getLong(1)
      val pts = r.getLong(2)
      val prior = signups.getOrElse(u, Array.empty[(Long, Long, Long)])
        .filter(_._2 <= pts)
      if (prior.nonEmpty) {
        covered += 1
        val latest = prior.maxBy(s => (s._2, s._3))
        assert(out.get(pid).contains(latest._3 % 5), s"purchase $pid")
      } else assert(!out.contains(pid), s"leakage: pre-signup purchase $pid")
    }
    assert(covered > 0 && out.size === covered)
  }

  test("langid confusion matrix conserves the corpus") {
    import graft.ext.TextOps
    val docs = Tables.documents(spark, sfDir)
    val out = TextOps.langIdConfusion(docs)
    assert(out.agg(sum("n")).head().getLong(0) === docs.count())
    val enPredicted = out.filter(col("predicted_lang") === "en")
      .agg(sum("n")).head().getLong(0)
    val direct = TextOps.langId(docs)
      .filter(col("predicted_lang") === "en").count()
    assert(enPredicted === direct)
  }

  test("profile similarity: sparse-join top-k equals dense brute cosine") {
    import graft.ops.EventAnalytics
    val ev = Tables.events(spark, sfDir)
    val out = EventAnalytics.profileTopK(ev, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length === 10)
    assert(out.forall(_._2 <= 1.0) && out.forall(_._2 >= -1.0))
    // brute: dense 24-dim profiles on the driver
    val counts = ev.select(col("user_id"), hour(col("ts")).as("h"))
      .groupBy("user_id", "h").count().collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val users = counts.keys.map(_._1).toSeq.distinct.sorted
    def prof(u: Long): Array[Long] =
      (0 until 24).map(h => counts.getOrElse((u, h), 0L)).toArray
    val q = prof(users.min)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / math.sqrt(
        a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum)
      math.rint(r * 1e6) / 1e6 // HALF_EVEN at 6dp, close enough for ranking
    }
    val brute = users.filter(_ != users.min)
      .map(u => (u, cos(prof(u), q)))
      .sortBy { case (u, c) => (-c, u) }.take(10)
    assert(out.map(_._1).toSeq === brute.map(_._1),
      s"rank mismatch: got ${out.toSeq} want $brute")
  }

  test("partition-count invariance: round-6 ops identical at 1 and 7 input partitions") {
    import org.apache.spark.sql.DataFrame
    import graft.ops.{Cdc, EventAnalytics, RangeJoin, Sessionize, Sketches, Windows}
    import graft.ext.{SampleOps, TextOps}
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def check(name: String, f: DataFrame => DataFrame, in: DataFrame): Unit =
      assert(canon(f(in.repartition(1))) === canon(f(in.repartition(7))),
        s"$name diverged under repartitioning")
    val ev = Tables.events(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    check("profileTopK", EventAnalytics.profileTopK(_, 10), ev)
    check("interpolateHourly", EventAnalytics.interpolateHourly, ev)
    check("trailingActiveUsers", EventAnalytics.trailingActiveUsers(_, 7), ev)
    check("attribution", RangeJoin.linearAttribution(_, "purchase", "click", 3600L), ev)
    check("streaks", Sessionize.activityStreaks, ev)
    check("hllMerge", Sketches.hllMergeDistinct, ev)
    check("topKPerGroup", Windows.topKPerGroup(_, 3), ev)
    check("pitEnrich", Cdc.pitEnrich, ev)
    check("cdcChunks", TextOps.cdcChunks(_, 16), docs)
    check("langIdConfusion", TextOps.langIdConfusion, docs)
    check("negativePairs", SampleOps.negativePairs(_, "vec_id", "label"),
      Tables.embeddings(spark, sfDir))
  }

  test("multimodal stubs: feature histogram conserves bytes, resize reads in-range") {
    import graft.ext.MultimodalOps
    val docs = Tables.documents(spark, sfDir)
    val feats = MultimodalOps.featureExtract(spark, docs)
    // Σ bucket counts per doc == payload byte length
    val bad = feats.groupBy("doc_id").agg(sum("n").as("total"))
      .join(docs.select(col("doc_id"),
        length(col("text").cast("binary")).as("len")), "doc_id")
      .filter(col("total") =!= col("len")).count()
    assert(bad === 0L)
    assert(feats.groupBy("doc_id").count()
      .filter(col("count") =!= 8).count() === 0L)
    val thumbs = MultimodalOps.resizeStub(docs, 16)
    assert(thumbs.count() === docs.count() * 16)
    assert(thumbs.filter(col("byte_val").isNull ||
      col("byte_val") < 0).count() === 0L, "resize read out of range")
  }

  test("OHLC mergeability: hour bars from 15-min bars equal direct hour bars") {
    import graft.ops.EventAnalytics
    val ev = Tables.events(spark, sfDir)
    val twoLevel = EventAnalytics.ohlcRollup(ev)
      .select("event_type", "bar_start", "open", "high", "low", "close",
        "n_events")
      .collect().map(_.toString).sorted.toSeq
    val direct = EventAnalytics.ohlcBars(ev, barSeconds = 3600)
      .select("event_type", "bar_start", "open", "high", "low", "close",
        "n_events")
      .collect().map(_.toString).sorted.toSeq
    assert(twoLevel === direct)
    assert(twoLevel.nonEmpty)
  }

  test("quantile rollup: merged day sketches honor the rank guarantee " +
       "and summaries survive serialize/merge in any order") {
    val ev = Tables.events(spark, sfDir)
    val out = graft.ops.Sketches.quantileRollup(ev)
      .as[(String, Double, Long, Boolean)].collect()
    val nTypes = ev.select("event_type").distinct().count()
    assert(out.length === nTypes * 3, "one row per (type, prob)")
    assert(out.forall(_._4), s"rank guarantee violated: ${out.mkString(",")}")
    // direct mechanism check: per-partition summaries serialized, merged
    // in REVERSE order, still within eps*n of the true rank
    import graft.functions.QuantileRollup
    val eps = 0.001
    val values = ev.select("value").as[Double].collect()
    val parts = values.grouped(math.max(1, values.length / 7)).toSeq
    val sketches = parts.map { chunk =>
      var s = new org.apache.spark.sql.catalyst.util.QuantileSummaries(
        org.apache.spark.sql.catalyst.util.QuantileSummaries
          .defaultCompressThreshold, eps)
      chunk.foreach(v => s = s.insert(v))
      QuantileRollup.ser(s.compress())
    }
    val merged = sketches.reverse
      .map(QuantileRollup.deser)
      .reduce(QuantileRollup.mergeCompressed).compress()
    val n = values.length
    val sorted = values.sorted
    Seq(0.5, 0.9, 0.99).foreach { p =>
      val approx = merged.query(p).get
      val rank = sorted.count(_ <= approx)
      assert(math.abs(rank - p * n) <= eps * n + 1,
        s"p=$p approx=$approx rank=$rank n=$n")
    }
  }

  test("sliding HLL: window unions track exact trailing actives within 5%") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    val out = Sketches.trailingActiveSketch(events, 7)
      .as[(Int, Long, Boolean)].collect()
    assert(out.nonEmpty)
    // the verdict the graded query stakes its hash on must hold on every
    // window — HLL at default lgK is far inside 5% at this cardinality
    assert(out.forall(_._3), s"windows outside 5%: ${out.filterNot(_._3).toSeq}")
    // exact side equals the exact operator (same derivation, same spine)
    val exact = graft.ops.EventAnalytics.trailingActiveUsers(events, 7)
      .as[(Int, Long)].collect().toMap
    out.foreach { case (d, n, _) => assert(exact(d) === n) }
  }

  test("canonical selection: covers every doc exactly once, keeps longest member") {
    val docs = Tables.documents(spark, sfDir)
    val out = DedupOps.canonicalPerCluster(docs, 3, tau = 0.5)
    val nDocs = docs.count()
    assert(out.agg(sum("n_members")).head().getLong(0) === nDocs)
    // the kept doc is a member of its own cluster and no shorter than any
    // member: join back and check the max
    val clusters = DedupOps.duplicateClusters(docs, 3, tau = 0.5)
    val members = docs.select("doc_id", "n_chars")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val maxChars = members.groupBy("cluster_id")
      .agg(max("n_chars").as("max_chars"))
    val bad = out.join(maxChars, "cluster_id")
      .filter(col("keep_n_chars") =!= col("max_chars")).count()
    assert(bad === 0L)
  }

  test("HLL overlap: IE intersection lands inside tolerance and verdicts are honest") {
    import spark.implicits._
    val row = graft.ops.Sketches
      .hllOverlap(Tables.events(spark, sfDir), "click", "purchase")
      .collect().head
    // exact truth recomputed independently
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
    val a = ev.filter(col("event_type") === "click")
      .select("user_id").distinct().as[Long].collect().toSet
    val b = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct().as[Long].collect().toSet
    assert(row.getAs[Long]("n_a") === a.size.toLong)
    assert(row.getAs[Long]("n_b") === b.size.toLong)
    assert(row.getAs[Long]("n_inter") === a.intersect(b).size.toLong)
    // fixture must have real overlap or the IE tolerance is vacuous
    assert(a.intersect(b).size > 10)
    assert(row.getAs[Boolean]("a_within_5pct"))
    assert(row.getAs[Boolean]("b_within_5pct"))
    assert(row.getAs[Boolean]("union_within_5pct"))
    assert(row.getAs[Boolean]("inter_within_10pct"))
  }
}
