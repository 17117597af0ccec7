package graft.tools

/** Measured-scaling harness (VERDICT round-13 directive #1): time the
  * board's most expensive BATCH seats at sf0.1 and at the 10× fixture
  * [[ScaleUp]] writes, and emit per-seat exponents
  * `log(t_10x / t_1x) / log(10)` — ~1.0 is linear-in-rows, the shape
  * every plan here claims; anything ≳1.2 is a seat whose plan does NOT
  * survive a scale-up and gets fixed, not explained.
  *
  * Methodology (differs from [[graft.Bench]] deliberately):
  *  - session memos are CLEARED before every timed repetition, so each
  *    reading is the seat's full standalone cost — truth-memo builds,
  *    layout stages and all. Bench measures the board's warm serving
  *    path; this measures the cost that actually scales.
  *  - one compile-warm pass at sf0.001 first, so generated-class
  *    compilation (expression-tree-keyed, SF-independent) never lands
  *    in a timed reading.
  *  - `reps` repetitions, min taken — the scaling signal is the
  *    data-dependent floor, not ambient jitter (the bench probes'
  *    rationale, applied to a two-point fit).
  * The DEFAULT set is batch-only; the streaming seats are measured by
  * overriding `SPARK_GRAFT_SCALE_SEATS` against the ts-banded scaled
  * events layout (`bench_scaling_r14_stream.json`): there the 10×
  * topic arrives as 32 time-ordered files, so the reading is the
  * honest composite of 10× rows and the per-micro-batch machinery —
  * see BASELINE.md "Measured scaling, STREAMING seats".
  *
  * Usage: `sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1
  * /root/repo/scaledata/sf1 10 bench_scaling_r14.json"`.
  */
object ScaleBench {

  /** The measured set: the top-cost batch seats of the r13 board plus
    * the scale-signature families (pair-pass dedup, ANN serving,
    * corpus pipeline, fuzzy blocking, heavy TPC-H). Override with
    * `SPARK_GRAFT_SCALE_SEATS` (comma-separated) to measure a different
    * slice — e.g. the streaming seats for
    * `bench_scaling_r14_stream.json`. */
  val defaultSeats: Seq[String] = Seq(
    "j8_fuzzy_match",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q1_pricing_summary",
    "q9_profit_shape",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_clusters",
    "dedup_minhash_recall",
    "dedup_embedding_cosine",
    "dedup_semantic_verified",
    "dedup_incremental_bloom",
    "corpus_prepare_full",
    "text_bm25_topk",
    "text_boilerplate",
    // the eval-overlap join (r15 verdict: top-5 calm batch seat, the
    // one expensive family member without its own exponent row — the
    // small side's shape differs from the jaccard/containment siblings)
    "text_source_overlap",
    "ann_ivf_batch_topk",
    "ann_pq_adc_topk",
    "sketch_quantile_rollup",
    "sessionize_users",
    "j9_bloom_join",
    // classifier SERVING at scale (train excluded — the memoized-weights
    // broadcast is the part that could hide a driver-side bottleneck;
    // SessionMemo.clearAll() per rep means each reading retrains, so the
    // exponent upper-bounds the serve-only cost)
    "quality_lr_score")

  def seats: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_SEATS")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(defaultSeats)

  def main(args: Array[String]): Unit = {
    val Array(baseDir, scaledDir, factorStr, outPath) = args
    val factor = factorStr.toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // the bench's timed posture; SPARK_GRAFT_AQE=0 for static plans
    val spark = graft.TmpDirs.session(cpus, aqeByDefault = true)

    val queries = graft.SparkEntry.queries
    val run = seats.filter { s =>
      val ok = queries.contains(s)
      if (!ok) System.err.println(s"[scale] UNKNOWN seat $s — skipped")
      ok
    }

    // compile-warm: generated classes are expression-tree-keyed, so the
    // tiny fixture compiles every family the timed runs reuse
    val warmSf = "/root/testdata/sf0.001"
    run.foreach { s =>
      try graft.Bench.runInFull(queries(s)(spark, warmSf))
      catch { case e: Throwable =>
        System.err.println(s"[scale] warm $s failed: ${e.getMessage}") }
    }
    System.gc()

    def timeSeat(name: String, dir: String): Double =
      (1 to reps).map { _ =>
        graft.SessionMemo.clearAll()
        val t0 = System.nanoTime()
        try graft.Bench.runInFull(queries(name)(spark, dir))
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name @ $dir FAILED: ${e.getMessage}")
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }.min

    val rows = run.map { s =>
      val t1 = timeSeat(s, baseDir)
      val t10 = timeSeat(s, scaledDir)
      val expo =
        if (t1 > 0 && t10 > 0) math.log(t10 / t1) / math.log(factor)
        else Double.NaN
      System.err.println(f"[scale] $s%-28s base $t1%7.2f s  10x $t10%7.2f s  exp $expo%5.2f")
      (s, t1, t10, expo)
    }
    val body = rows.map { case (s, t1, t10, e) =>
      val es = if (e.isNaN) "null" else f"$e%.3f"
      f"""    "$s": {"base_s": $t1%.3f, "scaled_s": $t10%.3f, "exponent": $es}"""
    }.mkString(",\n")
    val json =
      s"""{
         |  "factor": $factor,
         |  "base": "$baseDir",
         |  "scaled": "$scaledDir",
         |  "reps": $reps,
         |  "cpus": $cpus,
         |  "seats": {
         |$body
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    graft.SessionMemo.clearAll()
    spark.stop()
  }
}
