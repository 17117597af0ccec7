package graft

import org.apache.spark.sql.functions._
import graft.ext._
import graft.ops.Dedup

/** LLM-pipeline operator semantics on crafted corpora: near-dup recall for
  * MinHash/SimHash against brute-force truth, similarity-search recall,
  * multimodal stub plumbing. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  // crafted corpus: 0/1 near-dups (one word changed), 2 exact dup of 0,
  // 3/4 unrelated
  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (1L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (3L, "completely different text about spark catalyst optimizer rules engine"),
    (4L, "yet another unrelated document mentioning parquet columnar storage files")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exactByContent(corpus)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(0L) === 2L) // docs 0 and 2 collapse, min id kept
    assert(!out.contains(2L))
    assert(out(1L) === 1L)
  }

  test("n-gram Jaccard ranks the near-dup pair top") {
    val top = DedupOps.ngramJaccardTopPairs(corpus, 3, 3)
      .as[(Long, Long, Double)].collect()
    // exact pair (0,2) first with jaccard 1.0, near pair next
    assert(top.head._1 === 0L && top.head._2 === 2L && top.head._3 === 1.0)
    val nearPairs = top.map(t => (t._1, t._2)).toSet
    assert(nearPairs.contains((0L, 1L)) || nearPairs.contains((1L, 2L)))
  }

  test("threshold Jaccard pairs: crafted corpus yields exactly the planted dups") {
    val pairs = DedupOps.ngramJaccardPairsAbove(corpus, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 2L), (0L, 1L), (1L, 2L)),
      "exact pair, near pair, and their transitive partner — nothing else")
  }

  test("containment: a doc embedded whole in a larger one scores 1.0 one-way") {
    val sub = "alpha beta gamma delta epsilon zeta eta theta"
    val wrapper = sub + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen " +
      "eighteen nineteen twenty"
    val docs = Seq(
      (0L, sub), (1L, wrapper),
      (2L, "unrelated totally different words written here entirely separate")
    ).toDF("doc_id", "text")
    val top = DedupOps.containmentTopPairs(docs, 3, 5)
      .as[(Long, Long, Double, Double)].collect()
    val p = top.find(t => t._1 == 0L && t._2 == 1L).get
    assert(p._3 === 1.0, "every shingle of the quoted doc appears in the wrapper")
    assert(p._4 < 0.3, "the reverse direction stays low")
    // Jaccard on the same pair is diluted by the wrapper's extra shingles —
    // the asymmetric score is what detects this shape
    val jac = DedupOps.ngramJaccardPairs(docs, 3)
      .filter(col("doc_a") === 0L && col("doc_b") === 1L)
      .select("jaccard").as[Double].head()
    assert(jac < 0.5 && p._3 > jac)
  }

  test("cross-source overlap: only the contaminated pair appears, with exact counts") {
    val docs = Seq(
      (0L, "shared common phrase appears here exactly", "srcA"),
      (1L, "shared common phrase appears here exactly plus more words", "srcB"),
      (2L, "entirely disjoint vocabulary nothing matches anywhere at all", "srcC")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.crossSourceOverlap(docs, 3)
      .as[(String, String, Long, Double)].collect()
    assert(out.map(t => (t._1, t._2)).toSet === Set(("srcA", "srcB")))
    // srcA: 6 words -> 4 distinct trigrams, all inside srcB's 7
    val row = out.head
    assert(row._3 === 4L)
    assert(row._4 === 0.571429) // round(4 / (4 + 7 - 4), 6)
  }

  test("duplicate clusters merge chains that pairwise dedup would split") {
    // chain: d0~d1 and d1~d2 are >= 0.5 pairs, d0~d2 is not — one cluster
    val chain = Seq(
      (0L, "a b c d e f g h i j k l"),
      (1L, "a b c d e f g h i xx yy zz"),
      (2L, "pp qq rr d e f g h i xx yy zz")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairsAbove(chain, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (1L, 2L)),
      s"fixture must form an open chain, got $pairs")
    val clusters = DedupOps.duplicateClusters(chain, 3, 0.5)
      .as[(Long, Long)].collect().toMap
    assert(clusters === Map(0L -> 0L, 1L -> 0L, 2L -> 0L),
      "label propagation must close the chain into one cluster")
  }

  test("MinHash LSH candidates cover all high-Jaccard pairs (recall)") {
    val cands = DedupOps.minHashCandidates(corpus, 3, bands = 8, rows = 2)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 2L)), "exact dup must collide in every band")
    assert(cands.contains((0L, 1L)) && cands.contains((1L, 2L)),
      "one-word-changed near-dup should collide in some band")
    assert(!cands.contains((3L, 4L)), "unrelated docs should not be candidates")
  }

  test("MinHash LSH precision: the 4×4 precision-tuned banding holds " +
       "both contracts, and the verdicts reflect the raw counts") {
    val docs = Tables.documents(spark, sfDir)
    val truth = DedupOps.ngramJaccardPairsAbove(docs, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the graded config: same 16-hash budget as the recall seat's 8×2,
    // re-banded 4×4 for precision
    val cands = DedupOps.minHashCandidates(docs, 3, bands = 4, rows = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.nonEmpty, "candidate set vacuous at this SF")
    val fp = (cands -- truth).size.toDouble / cands.size
    val recall = (cands & truth).size.toDouble / truth.size
    info(f"4×4: FP rate $fp%.3f, recall $recall%.3f over ${cands.size} " +
      s"candidates, ${truth.size} truth pairs")
    assert(fp <= 0.25, f"4×4 banding FP rate $fp%.3f blew the graded bound")
    assert(recall >= 0.8, f"4×4 banding recall $recall%.3f under the bound")
    // the recall-tuned 8×2 is the MOTIVATION: its FP rate is corpus-
    // dependent (grows with background-pair population) — assert it is
    // never BETTER than the precision-tuned config here, pinning the
    // tradeoff's direction
    val wide = DedupOps.minHashCandidates(docs, 3, bands = 8, rows = 2)
      .as[(Long, Long)].collect().toSet
    val fpWide = (wide -- truth).size.toDouble / wide.size
    info(f"8×2 (recall-tuned): FP rate $fpWide%.3f over ${wide.size}")
    assert(fpWide >= fp, "re-banding for precision must not lose to 8×2")
    val verdict = DedupOps.minHashPrecision(docs, 3, bands = 4, rows = 4,
        tau = 0.5, maxFpRate = 0.25, minRecall = 0.8)
      .as[(Long, Boolean, Boolean)].head()
    assert(verdict._1 === truth.size.toLong,
      "emitted truth size must match the recomputable count")
    assert(verdict._2 && verdict._3,
      "both verdicts must hold on the graded fixture")
    // and the verdicts are REAL: absurd bounds must flip them
    val tight = DedupOps.minHashPrecision(docs, 3, bands = 4, rows = 4,
        tau = 0.9999, maxFpRate = 0.0, minRecall = 0.8)
      .as[(Long, Boolean, Boolean)].head()
    assert(!tight._2 || (cands -- truth).isEmpty,
      "a zero-FP bound must fail whenever any false positive exists")
  }

  test("native simhash64 is bit-identical to the HOF specification") {
    val docs = Tables.documents(spark, sfDir)
    val native = DedupOps.simHashes(docs)
    val hof = DedupOps.simHashesHof(docs)
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native and HOF simhash must agree bit-for-bit")
  }

  test("SimHash: near-dups within small Hamming distance, unrelated far") {
    val sigs = DedupOps.simHashes(corpus).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 2L) === 0, "identical docs -> identical simhash")
    assert(ham(0L, 1L) < ham(0L, 3L), "near-dup closer than unrelated")
    val pairs = DedupOps.simHashNearDups(corpus, maxHamming = 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
  }

  test("IVF top-k achieves full recall when probing the true cell") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = SimilarityOps.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = SimilarityOps.ivfTopK(emb, 0L, 10, nprobe = 10) // all cells
      .select("vec_id").as[Long].collect().toSet
    assert(ivf === brute, "nprobe=all must equal brute force")
    // labels in this synthetic set are random (no cluster structure), so
    // recall at small nprobe is ~nprobe/nlabels by construction; assert the
    // MECHANISM instead: results confined to the probed cells, full k.
    val ivf2 = SimilarityOps.ivfTopK(emb, 0L, 10, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf2.size === 10)
    val labelsOf = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(ivf2.map(labelsOf).size <= 2, "results must come from <=nprobe cells")
  }

  test("IVF cells written as partitions prune the scan to probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    Tables.embeddings(spark, sfDir)
      .write.partitionBy("label").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("label").isin(3, 7))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
    // only the two probed cell directories are read
    val scanned = pruned.select("vec_id").distinct().count()
    val expected = Tables.embeddings(spark, sfDir)
      .filter(col("label").isin(3, 7)).count()
    assert(scanned === expected)
  }

  test("ivfTopKPruned: result equals ivfTopK and the scan is partition-pruned") {
    val emb = Tables.embeddings(spark, sfDir)
    val pruned = SimilarityOps.ivfTopKPruned(emb, 0L, 10, nprobe = 3)
    // same probe, same scoring, different storage layout → identical rows
    val viaBase = SimilarityOps.ivfTopK(emb, 0L, 10, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(pruned.as[(Long, Double)].collect().toSeq === viaBase)
    // the cell filter must resolve against the partition LISTING — a
    // non-empty PartitionFilters on the scan, nothing pushed as data
    // filters for label
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined,
      s"cell filter must prune at the directory level:\n$plan")
  }

  test("batched IVF: equals the per-query probes; one partition-pruned scan") {
    val emb = Tables.embeddings(spark, sfDir)
    val batch = SimilarityOps.ivfTopKBatchPruned(emb, 0L to 3L, 5, nprobe = 2)
    val got = batch.as[(Long, String)].collect().toMap
    // the batched form must reproduce each query's solo nprobe=2 probe —
    // same probe ranking, same scoring, same rank order
    (0L to 3L).foreach { qid =>
      val solo = SimilarityOps.ivfTopK(emb, qid, 5, nprobe = 2)
        .select("vec_id").as[Long].collect().mkString(",")
      assert(got(qid) === solo, s"query $qid diverged from its solo probe")
    }
    // ONE corpus scan, pruned at the directory level to the probe union:
    // the label predicate must sit in PartitionFilters (not a post-scan
    // data filter), and only one scan node may carry it
    val plan = batch.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*label".r.findAllIn(plan).toSeq
    assert(pruned.size === 1,
      s"expected exactly one partition-pruned corpus scan:\n$plan")
  }

  test("streaming IVF ingest: top-k served from the grown corpus, both " +
       "segments pruned at the directory level") {
    val served = graft.streaming.StreamOps
      .streamingIvfIngestServe(spark, sfDir, k = 10, nprobe = 3)
    val rows = served.as[(Long, Double)].collect()
    assert(rows.length === 10)
    // rank order is the cosine/vec_id contract
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.reverse.toSeq)
    // serving must read base ∪ ingest with the probe pruning BOTH
    // segment scans at the partition-listing level
    val plan = served.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).toSeq
    assert(pruned.size === 2,
      s"expected two partition-pruned segment scans:\n$plan")
  }

  test("PQ: ADC serving is a zero-shuffle code scan; rerank pool recovers " +
       "what raw ADC loses") {
    val emb = Tables.embeddings(spark, sfDir)
    val adc = SimilarityOps.pqAdcTopK(emb, 0L, 10)
    val rows = adc.as[(Long, Double)].collect()
    assert(rows.length === 10)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.reverse.toSeq)
    // the serving scan is a pure map + TakeOrdered: the only exchanges
    // in the whole plan are the two centroid-build groupBys (bounded
    // k·d state); scoring itself shuffles nothing
    val plan = adc.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"ADC scoring must not add exchanges:\n$plan")
    // two-stage rerank: its top-10 is the EXACT-dot order restricted to
    // the ADC pool, so every reranked hit against brute truth is also a
    // pool hit — reranked recall >= raw ADC recall by construction;
    // assert it numerically
    val q = emb.select(col("vec_id"), SimilarityOps.vecD("embedding").as("v"))
    val qv = q.filter(col("vec_id") === 0L).select(col("v").as("qv"))
    val truth = q.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(SimilarityOps.dot("v", "qv"), 6).as("dp"))
      .orderBy(desc("dp"), asc("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adcHits = rows.map(_._1).count(truth)
    val rerankHits = SimilarityOps.pqRerankTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().count(truth)
    assert(rerankHits >= adcHits,
      s"rerank ($rerankHits) must not lose hits vs raw ADC ($adcHits)")
    // the graded verdict holds on this fixture
    val rec = SimilarityOps.pqRecall(emb, 0L, 10, minHits = 2)
      .as[(Long, Boolean)].head()
    assert(rec._2, s"recall_ok false at n_hits=${rec._1}")
  }

  test("int8 rerank: corpus-wide pool is exact; pooled recall >= raw int8") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = SimilarityOps.bruteForceTopK(emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    // a pool covering the corpus makes stage 2 the exact brute force —
    // the re-rank's float scoring is bit-identical to the baseline
    val fullPool = SimilarityOps.int8RerankTopK(emb, 0L, 10, pool = 1000)
      .as[(Long, Double)].collect().toSeq
    assert(fullPool === brute)
    // the serving configuration: re-ranking a 50-candidate int8 pool can
    // only fix quantization flips, never introduce them — recall vs the
    // float truth must be >= the raw int8 top-10's
    val bruteSet = brute.map(_._1).toSet
    val pooled = SimilarityOps.int8RerankTopK(emb, 0L, 10, pool = 50)
      .select("vec_id").as[Long].collect()
    assert(pooled.length === 10)
    val rawInt8Hits = SimilarityOps.int8TopKRecall(emb, 0L, 10, minHits = 0)
      .select("n_hits").as[Long].head()
    assert(pooled.count(bruteSet) >= rawInt8Hits,
      "re-rank must not lose recall vs the raw int8 ordering")
  }

  test("bloom-gated incremental dedup: identical triage, bloom probe in plan") {
    val corpus2 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (1L, "spark catalyst rewrites logical plans into efficient physical operators"),
      (3L, "columnar parquet files compress well and scan fast on modern hardware")
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact
      (11L, "spark catalyst rewrites logical plans into efficient physical engines"), // near
      (12L, "a totally unrelated sentence about cooking pasta with fresh tomatoes")  // kept
    ).toDF("doc_id", "text")
    val plain = DedupOps.incrementalDedup(inc, corpus2, 3, 0.5)
      .as[(Long, String)].collect().toMap
    val bloomed = DedupOps.incrementalDedupBloom(inc, corpus2, 3, 0.5)
    assert(bloomed.as[(Long, String)].collect().toMap === plain,
      "the bloom gate must never change the triage")
    assert(plain === Map(10L -> "exact_dup", 11L -> "near_dup", 12L -> "kept"))
    // the ANALYZED plan carries the probe; over this LocalRelation
    // fixture the optimizer then constant-folds it away entirely
    // (ConvertToLocalRelation) — itself proof the gate is a pure
    // filter the engine can evaluate anywhere, including at the scan
    val planStr = bloomed.queryExecution.analyzed.toString
    assert(planStr.contains("might_contain"),
      s"expected the bloom probe in the analyzed plan:\n${planStr.take(1200)}")
  }

  test("shared Jaccard truth: content-keyed memo serves all recall consumers") {
    // same corpus, same params → the SAME checkpointed plan (built once);
    // different corpus or params → a different truth, never a stale one
    val t1 = DedupOps.truthPairsAbove(corpus, 3, 0.5)
    val t2 = DedupOps.truthPairsAbove(corpus, 3, 0.5)
    assert(t1 eq t2, "identical (corpus, n, tau) must hit the memo")
    val other = corpus.filter(col("doc_id") =!= 2L)
    val t3 = DedupOps.truthPairsAbove(other, 3, 0.5)
    assert(!(t3 eq t1), "a different corpus must get its own truth")
    val t4 = DedupOps.truthPairsAbove(corpus, 3, 0.9)
    assert(!(t4 eq t1), "a different tau must get its own truth")
    // and the served truth is correct: 0~1 (near), 0~2 (exact), 1~2
    val pairs = t1.as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)), s"truth: $pairs")
    assert(t3.as[(Long, Long)].collect().toSet == Set((0L, 1L)))
  }

  test("LSH buckets put identical vectors in the same bucket") {
    val emb = Tables.embeddings(spark, sfDir)
    val buckets = SimilarityOps.lshBuckets(emb, 8)
    assert(buckets.count() === emb.count())
    val nBuckets = buckets.select("bucket").distinct().count()
    assert(nBuckets > 1, "hyperplanes must actually split the space")
    // determinism
    val again = SimilarityOps.lshBuckets(emb, 8)
    assert(buckets.exceptAll(again).isEmpty)
  }

  test("multimodal decode stub: mapPartitions output matches column-op math") {
    val docs = Tables.documents(spark, sfDir)
    val viaMap = MultimodalOps.decodeStub(spark, docs)
      .select("doc_id", "n_bytes").as[(Long, Int)].collect().toMap
    val viaCols = docs.select(col("doc_id"),
      length(col("text").cast("binary")).as("n_bytes"))
      .as[(Long, Int)].collect().toMap
    assert(viaMap === viaCols)
  }

  test("multimodal: metadata-only projection prunes the payload column from the scan") {
    val docs = Tables.documents(spark, sfDir)
    val idOnly = MultimodalOps.asMedia(docs).select("doc_id")
    val scan = idOnly.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(scan).getOrElse("")
    assert(readSchema.contains("doc_id"), scan)
    assert(!readSchema.contains("text"),
      s"payload column must be pruned from the scan: $readSchema")
  }

  test("sequence packing fills but never overflows the budget") {
    val docs = Tables.documents(spark, sfDir)
    val packed = PackOps.packSequences(docs, budget = 512, shards = 8)
    assert(packed.count() === docs.count(), "every doc must be assigned")
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val seqTotals = packed.join(toks, "doc_id")
      .groupBy("shard", "seq_id")
      .agg(sum("n").as("total"), count(lit(1)).as("n_docs"))
    // a sequence may exceed the budget only as a single oversized doc
    assert(seqTotals.filter(col("total") > 512 && col("n_docs") > 1).count() === 0)
  }

  test("chunking covers every word with the declared overlap") {
    val chain = Seq((0L, (1 to 150).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.chunks(chain, chunkSize = 64, overlap = 8)
      .orderBy("chunk_idx")
      .select("chunk_text").as[String].collect()
    assert(out.length === 3) // ceil((150-8)/56) = 3
    assert(out(0).startsWith("w1 ") && out(0).endsWith(" w64"))
    assert(out(1).startsWith("w57 "), "second chunk starts stride=56 in")
    assert(out(2).endsWith(" w150"), "last chunk reaches the end")
  }

  test("text stats: token counts consistent with distinct <= total") {
    val st = TextOps.stats(Tables.documents(spark, sfDir))
    assert(st.filter(col("n_distinct_tokens") > col("n_tokens")).count() === 0)
    assert(st.filter(col("avg_token_len") <= 0).count() === 0)
  }

  test("substring spans: a verbatim copy shares every window; unrelated docs none") {
    val docs = Seq(
      (0L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")),          // full copy
      (2L, ((1 to 10).map(i => s"w$i") ++ (1 to 10).map(i => s"x$i")).mkString(" ")), // shares a prefix
      (3L, (1 to 20).map(i => s"z$i").mkString(" "))           // disjoint
    ).toDF("doc_id", "text")
    val out = DedupOps.substringDupSpans(docs, w = 13)
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(0L) === ((8L, 8L)), "copy pair: all 20-13+1 windows duplicated")
    assert(out(1L) === ((8L, 8L)))
    assert(out(2L) === ((8L, 0L)), "10-word shared prefix < 13-token window")
    assert(out(3L) === ((8L, 0L)))
  }

  test("repetition: phrase-looped text trips the top-bigram gate, normal text keeps") {
    val docs = Seq(
      (0L, Seq.fill(30)("buy now").mkString(" ")),             // one bigram dominates
      (1L, (1 to 60).map(i => s"w$i").mkString(" "))           // all bigrams unique
    ).toDF("doc_id", "text")
    val out = TextOps.repetition(docs)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!out(0L), "looped phrase must be dropped")
    assert(out(1L), "non-repetitive text must be kept")
  }

  test("decontamination flags exactly the docs sharing an eval window") {
    val eval = Seq((100L, (1 to 20).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, (1 to 20).map(i => s"e$i").mkString(" ")),           // verbatim leak
      (1L, ((1 to 12).map(i => s"e$i") ++ (1 to 8).map(i => s"c$i")).mkString(" ")), // 12-token overlap < w
      (2L, (1 to 20).map(i => s"c$i").mkString(" "))            // clean
    ).toDF("doc_id", "text")
    val out = DedupOps.decontaminate(corpus, eval, w = 13)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out === Map(0L -> true, 1L -> false, 2L -> false),
      "only a full 13-token window counts; sub-window overlap stays clean")
  }

  test("vocabulary ranks are deterministic and df <= occurrences") {
    val v = TextOps.vocabulary(Tables.documents(spark, sfDir), 10)
      .select("rank", "n_occ", "n_docs").as[(Int, Long, Long)].collect()
    assert(v.map(_._1).toSeq === (1 to 10))
    assert(v.forall { case (_, occ, df) => df <= occ })
    assert(v.map(_._2).toSeq === v.map(_._2).sortBy(-_).toSeq, "sorted by count")
  }

  test("decontamination probe broadcasts the eval windows; empty eval set is a no-op") {
    val docs = Tables.documents(spark, sfDir)
    val plan = DedupOps.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval-window probe must broadcast, never shuffle the corpus:\n$plan")
    val out = DedupOps.decontaminate(docs, docs.filter(lit(false)))
    assert(out.filter(col("contaminated")).count() === 0)
    assert(out.count() === docs.count(), "every doc in the manifest")
  }

  test("batched ANN matches the single-query path for each query id") {
    val emb = Tables.embeddings(spark, sfDir)
    val batch = SimilarityOps.bruteForceTopKBatch(emb, Seq(0L, 1L, 2L), 5)
      .as[(Long, String)].collect().toMap
    (0L to 2L).foreach { qid =>
      val single = SimilarityOps.bruteForceTopK(emb, qid, 5)
        .select("vec_id").as[Long].collect().mkString(",")
      assert(batch(qid) === single, s"batch/single divergence for query $qid")
    }
  }

  test("batched ANN aggregates partially (ObjectHashAggregate, no global sort)") {
    val plan = SimilarityOps.bruteForceTopKBatch(
      Tables.embeddings(spark, sfDir), Seq(0L, 1L), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"bounded-heap aggregator must run as hash aggregate:\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      s"per-query top-k must not sort the full score matrix:\n$plan")
  }

  test("unigram score: atypical-token doc scores below typical-token doc") {
    val docs = Seq(
      (0L, "a a a a a a a a b b"),  // common tokens
      (1L, "q r s t u v w x y z")   // ten hapaxes
    ).toDF("doc_id", "text")
    val s = TextOps.unigramScore(docs)
      .select("doc_id", "mean_logprob").as[(Long, Double)].collect().toMap
    assert(s(1L) < s(0L), "rare-token doc must score lower")
  }

  test("bigram LM: crafted corpus pins bigram probability, pruning, " +
       "and the backoff path") {
    // "a b" occurs 3x (kept: c(a,b)=3, c(a·)=4 -> p=0.75);
    // "a c" occurs once (pruned -> backoff 0.4 * c(c)/N = 0.4*1/12)
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"),
      (4L, "x y z z")).toDF("doc_id", "text")
    val s = TextOps.bigramLmScore(docs)
      .as[(Long, Double, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(s(0L)._1 === BigDecimal(math.log(3.0 / 4.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(s(0L)._3 === 0L, "kept bigram must not back off")
    assert(s(3L)._3 === 1L, "pruned singleton bigram must back off")
    assert(s(3L)._1 === BigDecimal(math.log(0.4 * 1.0 / 12.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(s(4L)._2 === 3L, "4-token doc has 3 bigram positions")
  }

  test("bigram LM on the fixture: both scoring paths populated, bigram " +
       "positions consistent with the token counts") {
    val got = TextOps.bigramLmScore(Tables.documents(spark, sfDir))
      .as[(Long, Double, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r._2 < 0.0 && r._4 <= r._3),
      "log-probs must be negative and backoff count bounded by positions")
    assert(got.exists(_._4 > 0), "backoff path vacuous on the fixture")
    assert(got.exists(r => r._4 < r._3), "bigram path vacuous on the fixture")
    val ntok = TextOps.stats(Tables.documents(spark, sfDir))
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(got.forall(r => r._3 === ntok(r._1) - 1L),
      "bigram positions must be n_tokens - 1 per doc")
  }

  test("int8 serving recall holds on the fixture") {
    val r = SimilarityOps.int8TopKRecall(
      Tables.embeddings(spark, sfDir), 0L, 10, minHits = 9)
      .as[(Long, Boolean)].collect().head
    assert(r._2, s"int8 top-10 recall ${r._1}/10 below bound")
  }

  test("tokenize ids: crafted corpus pins rank mapping and OOV handling") {
    // vocab@k=2 of this corpus: a (3 occ → rank 1), b (2 occ, ties c but
    // wins alphabetically → rank 2); c and zzz are OOV
    val docs = Seq((0L, "a a b"), (1L, "b c c a"), (2L, "zzz"))
      .toDF("doc_id", "text")
    val got = TextOps.tokenizeStats(docs, 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 3L, 0L, 1L + 1L + 2L),
      (1L, 4L, 2L, 2L + 0L + 0L + 1L),
      (2L, 1L, 1L, 0L)), s"unexpected encode invariants: $got")
  }

  test("bm25: tf saturates, rare terms outweigh common, plan has no full-width window") {
    // crafted corpus: 'rare' appears in 1 doc, 'common' in all 4.
    // doc 0 has both; doc 1 repeats 'common' heavily (tf saturation);
    // doc 3 lacks every query term and must not be scored.
    val docs = Seq(
      (0L, "rare common filler words here"),
      (1L, "common common common common common filler words here now"),
      (2L, "common filler words here now"),
      (3L, "nothing that matches at all")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("rare", "common"), 10)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L),
      s"doc with the rare term must rank first, unmatched doc absent: ${out.toSeq}")
    // tf saturation: doc 1's five 'common' score less than 5x doc 2's one
    val score = out.map(r => r._1 -> r._2).toMap
    assert(score(1L) < 5 * score(2L), "k1 must saturate term frequency")
    // graded-fixture plan: top-k is TakeOrderedAndProject, and the only
    // window runs over the k survivors, never the matching corpus
    val plan = SparkEntry.queries("text_bm25_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must plan as a bounded per-partition heap")
  }

  test("pmi bigrams: planted collocation outranks independent co-occurrence") {
    // 'new york' always adjacent (collocation); 'the' is everywhere, so
    // 'the day' co-occurs often but carries no mutual information
    val docs = Seq(
      (0L, "we visited new york in the day and the night was long"),
      (1L, "new york has the day crowds and the night calm"),
      (2L, "in new york the day starts and the night follows"),
      (3L, "new york draws the day walkers the night dreamers"),
      (4L, "trips to new york fill the day the night the memory"))
      .toDF("doc_id", "text")
    val out = TextOps.pmiBigrams(docs, minCount = 5L, k = 5)
      .as[(String, String, Long, Double)].collect()
    val byPair = out.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair.contains(("new", "york")), s"support floor met: ${out.toSeq}")
    assert(byPair(("new", "york")) == out.map(_._4).max,
      "the always-adjacent pair must carry the highest PMI")
    assert(byPair.get(("the", "day")).forall(_ < byPair(("new", "york"))),
      "a frequent-but-independent pair must not outrank the collocation")
    // graded fixture is a bounded top-k, never a corpus-wide sort
    val plan = SparkEntry.queries("text_pmi_bigrams")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("boilerplate removal: shared banner blocks drop, unique prose survives intact") {
    // 4 docs of one source share a banner that is exactly two 4-word
    // blocks; each doc's own text is unique and 4-word-aligned
    val banner = "cookie notice accept all terms privacy contact footer"
    val docs = Seq(
      (0L, s"$banner alpha beta gamma delta", "web"),
      (1L, s"$banner epsilon zeta eta theta", "web"),
      (2L, s"$banner iota kappa lambda mu", "web"),
      (3L, s"$banner nu xi omicron pi", "web"),
      (4L, "rho sigma tau upsilon phi chi psi omega", "web")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3)
      .select("doc_id", "n_blocks", "n_kept", "clean_text")
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    // banner blocks hit df=4 > maxDf=3 and vanish; body blocks stay
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(out(0) === ((0L, 3, 1L, "alpha beta gamma delta")))
    assert(out(1)._4 === "epsilon zeta eta theta")
    // the untouched doc keeps both its blocks in original order
    assert(out(4) === ((4L, 2, 2L,
      "rho sigma tau upsilon phi chi psi omega")))
  }

  test("boilerplate removal: an all-boilerplate doc leaves the result entirely") {
    // doc 4 is NOTHING BUT the shared banner — after the drop it has no
    // kept blocks and must vanish (the oracle's join+group form has no
    // row to group for it), not linger as an empty-text row
    val banner = "cookie notice accept all terms privacy contact footer"
    val docs = Seq(
      (0L, s"$banner alpha beta gamma delta", "web"),
      (1L, s"$banner epsilon zeta eta theta", "web"),
      (2L, s"$banner iota kappa lambda mu", "web"),
      (3L, s"$banner nu xi omicron pi", "web"),
      (4L, banner, "web")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out === Seq(0L, 1L, 2L, 3L),
      "the fully-boilerplate doc must be absent")
  }

  test("boilerplate removal: broadcast and distributed bad-set paths are byte-identical") {
    // richer corpus than the banner fixtures: two sources, each with its
    // own banner above the df threshold, a cross-source banner below the
    // per-source threshold, an all-boilerplate doc, and unique bodies —
    // every behavior the other boilerplate specs pin, exercised through
    // BOTH plans
    val bannerA = "cookie notice accept all terms privacy contact footer"
    val bannerB = "subscribe now daily newsletter special offer limited time"
    val shared = "shared banner words here"
    val docs = ((0 until 6).map(i =>
        (i.toLong, s"$bannerA body${i}a body${i}b body${i}c body${i}d", "a")) ++
      (6 until 12).map(i =>
        (i.toLong, s"$bannerB body${i}a body${i}b body${i}c body${i}d", "b")) ++
      Seq((12L, bannerA, "a"),
          (13L, s"$shared uniq13 one two three", "a"),
          (14L, s"$shared uniq14 four five six", "b")))
      .toDF("doc_id", "text", "source")
    val bc = TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3,
        broadcastBadSets = true)
      .as[(Long, Int, Long, String)].collect().sortBy(_._1).toSeq
    val dist = TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3,
        broadcastBadSets = false)
      .as[(Long, Int, Long, String)].collect().sortBy(_._1).toSeq
    assert(bc === dist)
    // sanity on content, not just parity: banners dropped, bodies intact,
    // the all-boilerplate doc gone, the under-threshold banner kept
    assert(!bc.exists(_._1 == 12L))
    assert(bc.find(_._1 == 0L).get._4 === "body0a body0b body0c body0d")
    assert(bc.find(_._1 == 13L).get._4.startsWith("shared banner"))
  }

  test("boilerplate removal: duplicated doc_ids stay one-row-per-input-row " +
       "in BOTH plans") {
    // two input rows sharing doc_id 0 with different bodies: the
    // broadcast path naturally emits two rows; the distributed path must
    // NOT merge them into one interleaved document (it groups on a
    // row-unique tag, not on doc_id)
    val docs = Seq(
      (0L, "alpha beta gamma delta", "a"),
      (0L, "epsilon zeta eta theta", "a"),
      (1L, "iota kappa lambda mu", "a")
    ).toDF("doc_id", "text", "source")
    def run(bc: Boolean) =
      TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3,
          broadcastBadSets = bc)
        .as[(Long, Int, Long, String)].collect()
        .sortBy(r => (r._1, r._4)).toSeq
    val b = run(bc = true)
    val d = run(bc = false)
    assert(b === d)
    assert(b.count(_._1 == 0L) === 2,
      s"duplicate doc_id must yield two output rows, got ${b.mkString(";")}")
    assert(b.filter(_._1 == 0L).map(_._4).toSet ===
      Set("alpha beta gamma delta", "epsilon zeta eta theta"))
  }

  test("boilerplate removal: df threshold is per-source, not corpus-wide") {
    // the same banner in two docs of each of two sources: per-source df=2
    // stays under maxDf=3 even though corpus-wide df=4 would exceed it
    val banner = "shared banner words here"
    val docs = Seq(
      (0L, s"$banner one two three four", "a"),
      (1L, s"$banner five six seven eight", "a"),
      (2L, s"$banner nine ten eleven twelve", "b"),
      (3L, s"$banner thirteen fourteen fifteen sixteen", "b")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateRemove(docs, blockWords = 4, maxDf = 3)
    assert(out.agg(sum(when(col("clean_text").contains("shared banner"),
      1L).otherwise(0L))).head.getLong(0) === 4L,
      "a block frequent only across sources must survive")
  }
}
