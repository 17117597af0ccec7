package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.call

/** Text-analysis operators for a training-data pipeline ([X] tier,
  * SURVEY.md §2.7 F10): token stats, quality scoring, language-ID heuristic,
  * BPE-ish token counting, document fingerprinting.
  *
  * Built-ins, higher-order functions and graft's native kernels — no
  * UDFs. Higher-order functions are NOT compiled: Spark 4.1's
  * `ArrayTransform`, `ArrayFilter`, `ArrayAggregate` and `ZipWith` are
  * `CodegenFallback`, so each lambda runs interpreted per element inside
  * the generated stage. The hot per-document scores run on codegen'd
  * kernels instead ([[graft.functions.CountInSet]],
  * [[graft.functions.BigramProfileCount]], `top_bigram_count`,
  * `char_poly_hash`, `cdc_chunk_spans`, `ngram_fingerprints`). The HOF
  * sites still interpreted: [[stats]] (`aggregate` token lengths),
  * [[tokenizeStats]] (`filter` + `aggregate` over the vocab map),
  * [[bigramLmScore]] (`zip_with` pairs), [[crossSourceOverlap]] (nested
  * `transform` source pairs), [[boilerplateRemove]] (`filter`/`transform`
  * over blocks), [[chunks]] (`transform` windows) and the BPE family
  * ([[bpeMerges]], [[bpeEncode]], [[bpeRoundtripApply]]: `aggregate` merge
  * folds, `zip_with`, `transform` id maps).
  * The per-document scoring ops are embarrassingly parallel (zero shuffle);
  * the corpus-level ops (vocabulary, tf-idf, source overlap, boilerplate)
  * shuffle only on bounded keys (terms, sources, blocks) — never doc×doc.
  */
object TextOps {

  private val StopWords = Seq("the", "a")

  /** Stop-word share of a token array, 4 places: the language-ID score
    * of [[langId]] and [[isEnglishPredicate]] and [[quality]]'s
    * `stop_ratio`. The count is the codegen'd
    * [[graft.functions.CountInSet]] kernel, equal to
    * `size(filter(words, w -> w in ('the', 'a')))`. */
  private def stopWordRatio(words: org.apache.spark.sql.Column) =
    round(graft.functions.CountInSet.column(words, StopWords)
      / size(words).cast("double"), 4)

  /** Per-document token statistics. */
  def stats(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).as("n_tokens"),
        length(col("text")).as("n_chars_measured"),
        size(array_distinct(col("words"))).as("n_distinct_tokens"),
        expr("round(aggregate(words, 0L, (a, w) -> a + length(w)) / cast(size(words) as double), 4)")
          .as("avg_token_len"))

  /** Quality scoring: length bounds, stopword ratio, lexical diversity —
    * the classic cheap pre-filters before expensive model-based scoring. */
  def quality(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).as("n_tokens"),
        stopWordRatio(col("words")).as("stop_ratio"),
        expr("round(size(array_distinct(words)) / cast(size(words) as double), 4)")
          .as("ttr"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 10) && (col("n_tokens") <= 10000) &&
        (col("ttr") > lit(0.1)))

  /** Repetition filters (the Gopher/MassiveText rules): documents whose
    * text is dominated by a repeated phrase or by few distinct words are
    * generated/boilerplate and poison pretraining. Per doc: the most
    * frequent word-bigram's share of all bigrams, and the duplicate-word
    * fraction (1 − distinct/total). Both statistics depend on ONE
    * document's own tokens, so the whole gate is a narrow per-row map —
    * the top-bigram count comes from the native
    * [[graft.functions.TopBigramCount]] kernel (one O(n) fingerprint
    * pass), replacing an earlier explode + two-level groupBy that
    * shuffled the corpus's full bigram stream twice (measured 1.7 s at
    * sf0.1; the kernel form is ~0.3 s and ships ZERO exchanges — the
    * shape that survives 100 TB). `keep` stays a plan-level predicate,
    * so downstream consumers compose it into the scan filter exactly
    * like the [[isEnglishPredicate]] gate. */
  def repetition(docs: DataFrame,
                 maxTopBigramFrac: Double = 0.18,
                 maxDupWordFrac: Double = 0.9): DataFrame = {
    docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_distinct"),
        call("top_bigram_count", col("words")).as("top_bigram_n"))
      .select(col("doc_id"),
        round(col("top_bigram_n") /
          (col("n_words") - 1).cast("double"), 6).as("top_bigram_frac"),
        round(lit(1.0) - col("n_distinct") / col("n_words").cast("double"), 6)
          .as("dup_word_frac"))
      .withColumn("keep",
        (col("top_bigram_frac") <= maxTopBigramFrac) &&
        (col("dup_word_frac") <= maxDupWordFrac))
  }

  /** CCNet-style cheap LM quality signal: per-document mean unigram
    * log-probability under the corpus's OWN unigram distribution —
    * documents full of corpus-atypical tokens score low and get routed to
    * the drop/review bucket (the poor-man's perplexity filter that runs
    * before any neural scorer). Two aggregations (vocab counts, per-doc
    * fold) + one join; the vocabulary is Zipf-truncatable so at 100 TB
    * the frequency table broadcasts (exact and small here — rare words
    * would be floor-bucketed in a capped variant, noted not needed at
    * this vocab size). `round(4)` absorbs row-order float noise in the
    * per-doc mean. */
  def unigramScore(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val freq = words.groupBy("word").agg(count(lit(1)).as("n_w"))
    val total = freq.agg(sum("n_w").as("n_total"))
    words
      .join(broadcast(freq), "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(log(col("n_w") / col("n_total"))), 4).as("mean_logprob"),
           count(lit(1)).as("n_tokens"))
  }

  /** [[unigramScore]]'s stronger sibling: per-document mean BIGRAM
    * log-probability under a count-pruned corpus bigram LM with stupid
    * backoff — the KenLM-shaped filter stage. The LM keeps bigrams seen
    * ≥ `minCount` times (pruning is what real LMs ship, and it is also
    * what makes backoff NON-vacuous when a corpus is scored under its
    * own model: singleton bigrams fall to `alpha · P(w2)`). Score per
    * position: `c(w1,w2)/c(w1·)` if kept, else `alpha · c(w2)/N`.
    * Emits the mean log-prob, the bigram count, and the backoff count
    * per doc. Plan shape: one corpus pass for pairs, three bounded
    * aggregate tables (pruned bigrams, head counts, unigrams) broadcast
    * onto the pair stream — Zipf-pruned LM tables are small by
    * construction; at 100 TB an unpruned variant would shuffle-join
    * instead, noted not needed here. `round(4)` absorbs group fold
    * order in the per-doc mean. */
  def bigramLmScore(docs: DataFrame, minCount: Long = 2L,
                    alpha: Double = 0.4): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), expr(
        """explode(zip_with(slice(ws, 1, size(ws) - 1),
                            slice(ws, 2, size(ws) - 1),
                            (a, b) -> struct(a AS w1, b AS w2))) AS p"""))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = docs
      .select(explode(split(col("text"), " ")).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("n_w2"))
    val total = uni.agg(sum("n_w2").as("n_total"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_b"))
    val heads = big.groupBy("w1").agg(sum("n_b").as("n_w1"))
    val kept = big.filter(col("n_b") >= minCount)
    val score = when(col("n_b").isNotNull, col("n_b") / col("n_w1"))
      .otherwise(lit(alpha) * col("n_w2") / col("n_total"))
    pairs
      .join(broadcast(kept), Seq("w1", "w2"), "left")
      .join(broadcast(heads), Seq("w1"))
      .join(broadcast(uni), Seq("w2"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(log(score)), 4).as("mean_logprob"),
           count(lit(1)).as("n_bigrams"),
           sum(when(col("n_b").isNull, 1L).otherwise(0L)).as("n_backoff"))
  }

  /** Tokenizer-prep VOCABULARY: global word counts + document frequency,
    * top-`k` ranked (count desc, word asc — deterministic). The corpus
    * pass is one explode + one groupBy; document frequency is an EXACT
    * countDistinct (required for the oracle's count(DISTINCT doc_id) to
    * hash-match), so the shuffle carries the word–doc incidence through
    * the expand — at corpus scale swap it for approx_count_distinct and
    * grade differentially like the a6 pair. The rank window runs only
    * over the k survivors AFTER the TakeOrdered cut, so the
    * single-partition window holds k rows, never the vocabulary. */
  def vocabulary(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
      .orderBy(desc("n_occ"), asc("word")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("n_occ"), asc("word"))))
  }

  /** Vocabulary APPLICATION — the encode step that turns curated text
    * into model-ready id sequences: each word maps to its [[vocabulary]]
    * rank (OOV → 0), summarized per doc by integer invariants (token
    * count, OOV count, id checksum) that pin the full sequence for
    * cross-engine grading without emitting array columns. Scale shape:
    * the vocabulary is top-k BOUNDED, folded into one map value and
    * broadcast into a codegen'd `transform`/`aggregate` — the corpus
    * side is a pure per-row map, no join, no shuffle. */
  def tokenizeStats(docs: DataFrame, k: Int): DataFrame = {
    val vmap = vocabulary(docs, k)
      .agg(map_from_entries(collect_list(
        struct(col("word"), col("rank").cast("long")))).as("vmap"))
    docs.withColumn("words", split(col("text"), " "))
      .crossJoin(broadcast(vmap))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        expr("size(filter(words, w -> element_at(vmap, w) is null))")
          .cast("long").as("n_unk"),
        expr("aggregate(words, 0L, (acc, w) -> acc + coalesce(element_at(vmap, w), 0L))")
          .as("ids_sum"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic, two profile scores per doc: (a) stopword ratio
    * (word-level profile), (b) character-bigram profile hit rate against a
    * small English-frequency set — the classic n-gram-profile classifier
    * reduced to one language's profile. Both scores returned so thresholds
    * are tunable downstream; prediction from the word-level score. */
  def langId(docs: DataFrame): DataFrame = {
    val bigramProfile = Seq("th", "he", "in", "er", "an", "re")
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        stopWordRatio(col("words")).as("en_score"),
        // a 1-character text has no bigram: NULL, as in DuckDB, where a
        // plain divide would fail the whole query under ANSI
        round(try_divide(
          graft.functions.BigramProfileCount.column(col("text"), bigramProfile),
          (length(col("text")) - 1).cast("double")), 4)
          .as("en_bigram_score"))
      .withColumn("predicted_lang",
        when(col("en_score") > 0.03, "en").otherwise("other"))
  }

  /** Confusion matrix of [[langId]]'s prediction against the corpus's
    * labeled `lang` column — the classifier-eval rollup a curation
    * pipeline runs before trusting a gate. One hash aggregate over the
    * (label, prediction) pairs; cardinality = |langs|². */
  def langIdConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang").as("label_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))

  /** [[langId]]'s prediction as a scan-side predicate over a raw `text`
    * column — for pipelines gating on language without materializing the
    * score frame (stays a pushable filter, no join). Same expression as
    * the oracle-checked [[langId]]. */
  def isEnglishPredicate: org.apache.spark.sql.Column =
    stopWordRatio(split(col("text"), " ")) > lit(0.03)

  /** [[quality]]'s verdict as a scan-side predicate (no join). */
  def qualityOkPredicate: org.apache.spark.sql.Column =
    (size(split(col("text"), " ")) >= 10) &&
    (size(split(col("text"), " ")) <= 10000) &&
    (expr("round(size(array_distinct(split(text, ' '))) / cast(size(split(text, ' ')) as double), 4)") > lit(0.1))

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * pre-tokenizer (letters | digits | single other-symbol), the standard
    * first pass of byte-pair encoders. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"))

  /** TF-IDF top-`k` terms per document — explode → tf per (doc, word), df
    * per word, idf = ln((N+1)/(df+1)) + 1 (smoothed), ranked per doc with a
    * deterministic tie-break. Shuffles carry only (doc, word) aggregates;
    * the corpus-size scalar joins in as a broadcast. */
  def tfIdfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df = docs containing the word = rows of tf per word. Computed as a
    // whole-partition window over tf rather than a second aggregation
    // joined back: single scan lineage (no duplicated explode+shuffle —
    // ReuseExchange can't dedupe the pruned-differently subtrees, and a
    // session-lifetime cache would leak executor memory).
    val tfdf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("word")))
    val nDocs = docs.agg(countDistinct("doc_id").as("n_docs"))
    val scored = tfdf
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"),
        round(col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1), 6)
          .as("tfidf"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))))
      .filter(col("rn") <= k)
  }

  /** BM25 retrieval scoring for a small query-term set — the lexical
    * ranking leg of a RAG / eval-retrieval pipeline. The query terms are
    * a broadcast-sized constant (an `isin` filter survives predicate
    * pushdown into the exploded scan), so the only shuffle carries
    * (doc, term) tf rows for MATCHING terms — at 100 TB the corpus is
    * reduced map-side to |hits| rows, and the two corpus scalars
    * (N, avgdl) ride a broadcast. Per-term contributions
    * `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))` are rounded to integer
    * MICRO-units before the per-doc sum (the repo's integer-cents
    * pattern): long addition is associative, so the score is
    * bit-identical under any partitioning/aggregation order — a double
    * sum would be one ulp away from a flaky compare. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val tf = words.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df per matching term: whole-partition window over the tf rows
    // (|terms| tiny groups), same single-lineage trick as tfIdfTopTerms.
    val tfdf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("word")))
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
                         sum("dl").as("dl_sum"))
    val contrib = tfdf.join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(log(lit(1.0) + (col("n_docs") - col("df") + 0.5)
                               / (col("df") + 0.5))
                * (col("tf") * lit(k1 + 1))
                / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl")
                                            / (col("dl_sum") / col("n_docs"))))
                * 1000000, 0).cast("long").as("contrib_u"))
    // Top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    // k-heap, driver merges k·P rows — never a single-partition window
    // over every matching doc); the rank window then runs over ≤ k rows.
    contrib.groupBy("doc_id").agg(sum("contrib_u").as("score_u"))
      .orderBy(desc("score_u"), asc("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score_u"), asc("doc_id"))).cast("long"))
  }

  /** PMI bigram mining — phrase discovery over the corpus (the
    * collocation signal tokenizer/vocab builders use to promote
    * multi-word units). Bigram and unigram occurrence counts are
    * map-side aggregates (the shuffle carries (pair, n) and (word, n)
    * rows, never token positions); the two corpus scalars broadcast,
    * and the unigram table joins onto the bigram table twice on the
    * word key — vocabulary-sized, not corpus-sized. PMI is a single
    * per-row expression over long counts (no double accumulation), so
    * determinism reduces to the mirrored arithmetic order; top-k plans
    * as TakeOrderedAndProject with a lexicographic tie-break. */
  def pmiBigrams(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    val words = docs.withColumn("ws", split(col("text"), " "))
    val bigrams = words
      .withColumn("a", slice(col("ws"), lit(1), size(col("ws")) - 1))
      .withColumn("b", slice(col("ws"), lit(2), size(col("ws")) - 1))
      .select(explode(arrays_zip(col("a"), col("b"))).as("bg"))
      .select(col("bg.a").as("w1"), col("bg.b").as("w2"))
    val nXY = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
    val uni = words.select(explode(col("ws")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
    val totals = nXY.agg(sum("n_xy").as("n_pairs"))
      .crossJoin(uni.agg(sum("n_w").as("n_tok")))
    nXY.filter(col("n_xy") >= minCount)
      .join(uni.select(col("word").as("w1"), col("n_w").as("n_x")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("n_w").as("n_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_xy"),
        round(log(col("n_xy") / col("n_pairs")
                    / (col("n_x") / col("n_tok")
                         * (col("n_y") / col("n_tok")))), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }

  /** Cross-source n-gram CONTAMINATION MATRIX — for every pair of corpus
    * sources, how many distinct word-`n`-grams they share (plus set sizes
    * and the source-level Jaccard). This is the corpus-governance audit
    * behind "did crawl B leak into crawl A?" and the source-level
    * companion of [[graft.ext.DedupOps.ngramJaccardPairs]]. The shape is
    * an inverted index keyed by shingle holding SOURCE ids, not doc ids:
    * docs collapse map-side to distinct (source, shingle) rows first, so
    * the pair join costs Σ df_src(shingle)² with df bounded by the number
    * of sources — and `maxDf` guards the open-web case where "source"
    * means millions of domains and a universal shingle would otherwise
    * fan out quadratically. Output is |sources|² at most, driver-safe. */
  def crossSourceOverlap(docs: DataFrame, n: Int,
                         maxDf: Long = 1000000L): DataFrame = {
    // Shingles never exist as strings: the native
    // [[graft.functions.NgramFingerprints]] kernel mixes per-word hashes
    // straight into 8-byte window fingerprints MAP-SIDE, so the
    // distinct, the df cap, and the pair join — all shuffles — carry
    // longs, and the interpreted transform/concat_ws lambda that used to
    // build (then immediately hash away) every shingle string is gone.
    // Results stay defined by shingle content (the oracle computes on
    // strings); collisions are the same N²·2⁻⁶⁵ budget as the previous
    // (xxhash64, length) string keys, deterministic per corpus.
    val sh = docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= n)
      .select(col("source"),
        explode(array_distinct(call("ngram_fingerprints", col("words"), lit(n))))
          .as("sh_h"))
      .distinct()
    // One aggregation per shingle replaces the df-cap join + self-join:
    // the source set per shingle is bounded by |sources| (the inverted
    // index's value list), so collecting it and emitting the sorted
    // pairs directly saves two full shuffles of the shingle stream —
    // at these key sizes the stage-scheduling floor, not bytes, was the
    // cost. The pair-emission HOF runs only on shingles shared by ≥2
    // sources (the rare tail after the filter). df ≡ size(srcs), so the
    // maxDf guard is the same predicate it always was.
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    sh.groupBy("sh_h")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2 && size(col("srcs")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
             transform(slice(srcs, i + 2, size(srcs)),
                       y -> struct(x AS src_a, y AS src_b))))""")).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") /
                (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** BOILERPLATE REMOVAL (RefinedWeb/CCNet line-dedup family): drop the
    * text units that repeat across many documents of the same source —
    * nav bars, footers, cookie banners — and reassemble each document
    * from its surviving units in order. The fixture corpus has no line
    * structure, so the unit is a fixed `blockWords`-word block (the line
    * stand-in; [[cdcChunks]] offers the edit-robust boundary alternative).
    *
    * Scale shape: block TEXT never rides a shuffle. The document-
    * frequency fold aggregates on (source, xxhash64(block)) — 8-byte
    * keys, map-side deduped. What happens to the df > maxDf survivors is
    * the `broadcastBadSets` choice:
    *
    *   - `true` (default): each source's bad fingerprints fold to ONE
    *     per-source set that BROADCASTS back; the drop and reassembly
    *     are then per-row array ops (order preserved by construction),
    *     so the df aggregation is the pipeline's ONLY exchange. Right
    *     whenever the bad sets are dimension-sized (the common case:
    *     nav/footer/banner templates per source). The ceiling is real,
    *     though — maxDf bounds each member's df, NOT the number of
    *     distinct bad blocks, so a template-heavy source with millions
    *     of distinct repeated variants can outgrow a broadcast.
    *   - `false`: the corpus-scale shape — bad fingerprints stay a
    *     DISTRIBUTED (source, bh) relation, blocks anti-join it on the
    *     8-byte key, and each document reassembles via an ordered
    *     collect. Two more exchanges (block fingerprints + the rebuild),
    *     but no single-row set and no broadcast anywhere, so it degrades
    *     gracefully at any bad-set cardinality. Same rows out — a spec
    *     pins the two paths byte-identical.
    *
    * Never a doc×doc comparison in either path. Dropping an innocent
    * block takes an xxhash64 collision INSIDE one source's block set —
    * the usual fingerprint budget; results are defined by block content.
    * Output is integers + reassembled text — the cross-engine compare is
    * exact, no float anywhere. */
  def boilerplateRemove(docs: DataFrame, blockWords: Int = 8,
                        maxDf: Long = 3,
                        broadcastBadSets: Boolean = true): DataFrame = {
    val withBlk = docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("blk", expr(
        s"""transform(sequence(0, cast(ceil(size(words) / ${blockWords}.0d) as int) - 1),
            i -> concat_ws(' ', slice(words, i * $blockWords + 1, $blockWords)))"""))
      .withColumn("fps", expr("transform(blk, b -> xxhash64(b))"))
    val badRows = withBlk
      .select(col("source"), col("doc_id"), explode(col("fps")).as("bh"))
      .groupBy("source", "bh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxDf)
      .select("source", "bh")
    val kept =
      if (broadcastBadSets) {
        val boiler = badRows.groupBy("source").agg(collect_set(col("bh")).as("bad"))
        withBlk.join(broadcast(boiler), Seq("source"), "left")
          .withColumn("bad", coalesce(col("bad"), typedlit(Array.empty[Long])))
          .select(col("doc_id"), size(col("blk")).as("n_blocks"),
            expr("filter(blk, (b, i) -> NOT array_contains(bad, fps[i]))")
              .as("kept"))
      } else {
        // Reassembly groups on `rid`, a row-unique tag, NOT on doc_id:
        // two input rows sharing a doc_id must come back as two output
        // rows (as the broadcast path does), not merge into one
        // interleaved document. rid is partition-layout-dependent but
        // only a grouping key — it is dropped, so the output multiset
        // is layout-invariant either way.
        withBlk
          .withColumn("rid", monotonically_increasing_id())
          .select(col("source"), col("doc_id"), col("rid"),
            size(col("blk")).as("n_blocks"),
            posexplode(expr("arrays_zip(blk, fps)")).as(Seq("pos", "z")))
          .select(col("source"), col("doc_id"), col("rid"), col("n_blocks"),
            col("pos"), col("z.blk").as("b"), col("z.fps").as("bh"))
          .join(badRows, Seq("source", "bh"), "left_anti")
          .groupBy("rid", "doc_id", "n_blocks")
          .agg(sort_array(collect_list(struct(col("pos"), col("b")))).as("ks"))
          .select(col("doc_id"), col("n_blocks"),
            expr("transform(ks, k -> k.b)").as("kept"))
      }
    kept
      // a doc whose EVERY block was boilerplate leaves the result
      // entirely (the join+group formulation has no row to group; the
      // oracle agrees) — doesn't arise in the fixture, pinned anyway so
      // a regenerated corpus can't diverge silently
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"), col("n_blocks"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Deterministic boilerplate injection for the grading fixture (the
    * [[graft.ext.PiiOps.withInjectedPii]] pattern): every 5th document
    * gets a 16-word source-branded banner prepended — two full 8-word
    * blocks, block-aligned, shared by ~1/5 of each source's documents —
    * so the df > maxDf drop rule genuinely binds at every SF while the
    * documents' own text (shifted by exactly two blocks) stays unique. */
  def withInjectedBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat_ws(" ", lit("site"), col("source"),
          lit("home login search menu footer copyright terms privacy contact about subscribe rss feed"),
          col("source"), col("text")))
      .otherwise(col("text")))

  /** Fixed-size chunking with overlap — the RAG/training preprocessing
    * step that turns documents into model-window-sized pieces: chunk `i`
    * holds words `[i·stride, i·stride + chunkSize)` with
    * `stride = chunkSize − overlap`. Pure per-row array math, zero
    * shuffle; a short doc yields exactly one chunk. */
  def chunks(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be smaller than the chunk")
    val stride = chunkSize - overlap
    docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
              sequence(0, greatest(1, cast(ceil((size(words) - $overlap) / $stride.0) as int)) - 1),
              i -> concat_ws(' ', slice(words, i * $stride + 1, $chunkSize)))"""))
        .as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
              col("chunk_text"))
  }

  /** Document fingerprints: a content digest (md5 of whitespace-normalized
    * lowercase text) and a 31-polynomial rolling hash over characters —
    * the building block of shingle/Rabin-Karp style fingerprinting. */
  def fingerprints(docs: DataFrame): DataFrame = {
    // the rolling hash runs in the native CharPolyHash kernel — the SQL
    // HOF form it replaces evaluated an interpreted lambda per CHARACTER
    // of every document; values are bit-identical (spec-pinned)
    docs.select(
      col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"),
      call("char_poly_hash", col("text")).as("rolling_hash"))
  }

  /** Content-defined chunking — variable-size chunk boundaries placed
    * where the rolling hash of the trailing 3-word window hits
    * `0 mod divisor` (the rsync/LBFS family: boundaries follow CONTENT,
    * so an insertion early in a document shifts at most one chunk's
    * boundary instead of re-slicing everything — what makes chunk-level
    * dedup robust to edits, unlike the fixed-width [[chunk]]).
    * Same polynomial char hash as [[fingerprints]], so the oracle can
    * replay it bit-exactly; all arithmetic stays in non-negative longs
    * (no float, no sign-dependent division).
    *
    * Scale shape: the entire computation — per-word char hashes,
    * trailing-3 boundary rule, span assembly — depends only on ONE
    * document's own tokens, so it runs in the native
    * [[graft.functions.CdcChunkSpans]] kernel: one O(|words|) pass per
    * row, zero exchanges. The window formulation it replaces (posexplode
    * every word position + a doc-partitioned window + a (doc, chunk)
    * aggregate) shuffled and sorted the corpus's full token stream for a
    * per-document statistic; the kernel is spec-pinned bit-identical. */
  def cdcChunks(docs: DataFrame, divisor: Int = 16): DataFrame = {
    docs
      .select(col("doc_id"),
        explode(call("cdc_chunk_spans", split(col("text"), " "), lit(divisor))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.n_tokens").as("n_tokens"), col("c.start_pos").as("start_pos"))
  }

  /** BPE merge-loop TRAINING — the iterative pair-merge algorithm
    * (Sennrich et al. 2016) that produces a tokenizer's merge table, the
    * canonical tokenizer-prep job over a training corpus. [[vocabulary]]
    * and [[tokenizeStats]] cover the encode side; this is the missing
    * train side: start from characters, repeat `nMerges` times {count
    * adjacent symbol pairs weighted by word frequency; merge the most
    * frequent pair everywhere}.
    *
    * Scale shape: the ONLY corpus-sized job is the initial word count;
    * every merge round runs on the |vocab|-sized distinct-word table
    * (persisted once) — one distributed pair aggregation plus a
    * single-ROW argmax collect per round, so driver traffic is
    * O(nMerges), independent of corpus size. At 100 TB the word-count
    * fold shrinks the working set by ~5 orders of magnitude before the
    * loop ever runs, which is exactly why BPE training is feasible at
    * corpus scale.
    *
    * Representation: a word's symbol sequence is a SELF-DELIMITED string
    * `(s1)(s2)…` — merging pair (l, r) is then the plain leftmost
    * non-overlapping string replace of `(l)(r)` with `(lr)`, which IS
    * the canonical greedy left-to-right merge scan (no delimiter is
    * shared between adjacent matches, so `(a)(b)(a)(b)` merges both
    * pairs and `(a)(a)(a)` merges only the first two — byte-for-byte the
    * reference algorithm, and byte-for-byte what DuckDB's `replace`
    * does, which is what lets the oracle replay the whole loop
    * closed-form as unrolled CTE stages). Pair counts include
    * overlapping occurrences (`aaa` counts (a,a) twice), matching the
    * reference `get_stats`. Tokens are `[a-z]+` runs of the lowercased
    * text, so `(`/`)` can never collide with a symbol. Ties break on
    * (count DESC, left ASC, right ASC) — a total order, so the merge
    * sequence is deterministic.
    *
    * Returns one row per learned merge: (merge_rank, left_sym,
    * right_sym, merged, pair_count); stops early if the vocabulary runs
    * out of pairs (the oracle's empty-LIMIT-1 stage degrades
    * identically). */
  /** One trained merge table per (session, input plan, nMerges) — the
    * encode seat ([[bpeEncode]]) applies the same merges the train seat
    * ([[bpeMerges]]) learns, and re-running the 8-round loop for the
    * apply would double the board's cost for zero information (the
    * pqMemo discipline, including its key: session OBJECT +
    * canonicalized plan OBJECT). */
  private val bpeMemo = graft.SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
    Seq[(Int, String, String, String, Long)]]("bpe_train")

  private def bpeTrain(docs: DataFrame,
                       nMerges: Int): Seq[(Int, String, String, String, Long)] =
    // keyed on the canonicalized plan OBJECT (structural case-class
    // equality — for a LocalRelation that includes the DATA, which its
    // toString omits; for scans, the normalized paths), so two
    // same-schema in-memory fixtures can never collide
    bpeMemo(docs.sparkSession,
      (docs.queryExecution.analyzed.canonicalized, nMerges)) {
      bpeTrainUncached(docs, nMerges)
    }

  def bpeMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, nMerges)
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  private def bpeTrainUncached(
      docs: DataFrame, nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    // nMerges ENVELOPE: training is inherently driver-sequenced — one
    // Spark job ending in a 1-row collect per merge round (each round's
    // best pair depends on every prior merge), so the loop launches
    // nMerges jobs and the merge re-apply fold is O(nMerges²·|vocab|)
    // string work. Fine at the graded vocab-scale nMerges (≤ a few
    // hundred); at tokenizer-realistic 30k+ merges this would be 30k
    // job launches — that regime needs a batched-merges variant, not
    // this loop. Guard the sane range, warn past the soft line.
    require(nMerges <= 10000,
      s"bpeTrain nMerges=$nMerges exceeds the driver-loop envelope " +
        "(one job + collect per merge); cap at 10000 or batch merges")
    if (nMerges > 1000) System.err.println(
      s"[bpe] nMerges=$nMerges launches $nMerges sequential driver jobs " +
        "— expect minutes; the graded seats use vocab-scale nMerges")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        regexp_replace(col("w"), "(.)", "($1)").as("s"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    try {
      var rank = 1
      var dry = false
      while (rank <= nMerges && !dry) {
        // The learned merges flow in through a broadcast ONE-ROW column
        // and are re-applied as an `aggregate` fold over the persisted
        // vocab — NOT as per-round literal `replace` chains: literals
        // would make every round (and every dataset) a fresh generated
        // class, while this tree is CONSTANT across rounds and inputs,
        // so the whole loop compiles once and the bench warm pass
        // pre-compiles it (the PQ codebook rationale,
        // [[graft.ext.SimilarityOps]]). Re-applying i merges per round
        // is O(nMerges²·|vocab|) cheap string work — the alternative,
        // materializing each round's sequences, trades that for a
        // persist/compile per round.
        val msDf = spark.createDataFrame(
            Seq(Tuple1(merges.toSeq.map(m => (m._2, m._3)))))
          .toDF("ms")
        // adjacent-pair counts over the vocab table: slice-zip keeps the
        // whole round inside codegen (single-symbol words yield empty
        // slices and drop out at the explode)
        val best = words
          .crossJoin(broadcast(msDf))
          .withColumn("s", expr(
            """aggregate(ms, s, (acc, m) ->
                 replace(acc, concat('(', m._1, ')(', m._2, ')'),
                              concat('(', m._1, m._2, ')')))"""))
          .select(col("cnt"),
            split(regexp_replace(col("s"), "^\\(|\\)$", ""), "\\)\\(").as("a"))
          .select(col("cnt"), explode(expr(
            """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
                 (x, y) -> struct(x AS l, y AS r))""")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("cnt").as("c"))
          .orderBy(desc("c"), asc("l"), asc("r"))
          .limit(1)
          .collect()
        best.headOption match {
          case Some(row) =>
            val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((rank, l, r, l + r, c))
            rank += 1
          case None => dry = true
        }
      }
    } finally words.unpersist()
    merges.toSeq
  }

  /** BPE ENCODE under the learned merges — the apply half of the
    * [[bpeMerges]] train/apply pair (and the merge-table counterpart of
    * the rank-id encode in [[tokenizeStats]]): per document, the word
    * count and the total BPE token count after the `nMerges` trained
    * merges are applied to every word. Decomposition: merges apply on
    * the DISTINCT-word table (the same constant fold expression training
    * uses — |vocab|-sized work, not corpus-sized), then the corpus joins
    * that |vocab|-row segment table by word. The segment side broadcasts
    * here (a trained vocab is orders of magnitude smaller than its
    * corpus); past the broadcast threshold the same plan shuffle-joins
    * on the word and nothing else changes. Training itself is memoized,
    * so this seat measures the APPLY. */
  def bpeEncode(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val merges = bpeTrain(docs, nMerges).map(m => (m._2, m._3))
    val msDf = spark.createDataFrame(Seq(Tuple1(merges))).toDF("ms")
    val docWords = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val segments = docWords.select("w").distinct()
      .crossJoin(broadcast(msDf))
      .withColumn("s", regexp_replace(col("w"), "(.)", "($1)"))
      .withColumn("s", expr(
        """aggregate(ms, s, (acc, m) ->
             replace(acc, concat('(', m._1, ')(', m._2, ')'),
                          concat('(', m._1, m._2, ')')))"""))
      .select(col("w"),
        size(split(regexp_replace(col("s"), "^\\(|\\)$", ""), "\\)\\("))
          .cast("long").as("n_sym"))
    docWords.join(broadcast(segments), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** BPE DECODE / round-trip — closes the tokenizer loop: text → ids
    * under the trained merge table, then ids → text through the
    * INVERTED vocabulary, graded per document by
    * `decode(encode(x)) = normalize(x)` (normalize = the lowercased
    * `[a-z]+` token stream joined by single spaces — exactly the train
    * side's input normalization).
    *
    * The id space is the 26 letters ∪ the trained merged symbols, so
    * it is CLOSED over any apply corpus: every segment of every word
    * is either a trained merge or a single letter, and an
    * out-of-vocabulary word just falls back toward characters — ids
    * are never null (the OOV spec pins this on a disjoint apply
    * corpus). Decode reads ONLY (word position, ids): ids map back to
    * symbols through a broadcast one-row reverse-vocab array (compile-
    * once, the merge-loop discipline), symbols concatenate per word,
    * words rejoin in document order via one array_sort fold — no
    * single-partition window. Train/apply split: `train` learns the
    * merges (memoized), `docs` is encoded/decoded. */
  private[graft] def bpeRoundtripApply(train: DataFrame, docs: DataFrame,
                                       nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val merges = bpeTrain(train, nMerges).map(m => (m._2, m._3))
    val rv = (('a' to 'z').map(_.toString) ++
      merges.map { case (l, r) => l + r }).distinct.sorted
    val vmap = rv.zipWithIndex.map { case (s, i) => (s, i.toLong) }
    // one-row broadcast constants: merge list (the compile-once fold),
    // symbol→id entries, and the id-indexed reverse vocab
    val constDf = spark.createDataFrame(Seq((merges, vmap, rv)))
      .toDF("ms", "vmap", "rv")
    val docWords = docs.select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")))
      .toDF("doc_id", "wpos", "w")
    // ENCODE: segment the distinct-word table under the trained merges
    // (|vocab|-sized work), map symbols to ids, join back by word
    val segments = docWords.select("w").distinct()
      .crossJoin(broadcast(constDf))
      .withColumn("s", regexp_replace(col("w"), "(.)", "($1)"))
      .withColumn("s", expr(
        """aggregate(ms, s, (acc, m) ->
             replace(acc, concat('(', m._1, ')(', m._2, ')'),
                          concat('(', m._1, m._2, ')')))"""))
      .select(col("w"), expr(
        """transform(split(regexp_replace(s, '^\\(|\\)$', ''), '\\)\\('),
             sym -> map_from_entries(vmap)[sym])""").as("ids"))
    val encoded = docWords.join(broadcast(segments), "w")
      .select(col("doc_id"), col("wpos"), col("ids"))
    // DECODE from (wpos, ids) alone: ids → symbols via the reverse
    // vocab, concatenated per word, words re-joined in document order
    val decoded = encoded
      .crossJoin(broadcast(constDf.select("rv")))
      .select(col("doc_id"), col("wpos"),
        expr("""concat_ws('', transform(ids,
                  i -> element_at(rv, cast(i + 1 AS int))))""").as("word"),
        size(col("ids")).cast("long").as("n_sym"))
      .groupBy("doc_id")
      .agg(sum("n_sym").as("n_bpe_tokens"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(wpos, word))),
                  t -> t.word), ' ')""").as("decoded"))
    val norm = docs.select(col("doc_id"), expr(
      "array_join(regexp_extract_all(lower(text), '[a-z]+', 0), ' ')")
      .as("norm"))
    decoded.join(norm, "doc_id")
      .select(col("doc_id"), col("n_bpe_tokens"),
        (col("decoded") === col("norm")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** The graded round-trip seat: train and apply on the same corpus
    * (the spec additionally drives [[bpeRoundtripApply]] with a
    * DISJOINT apply corpus to pin OOV fallback-to-characters). */
  def bpeRoundtrip(docs: DataFrame, nMerges: Int): DataFrame =
    bpeRoundtripApply(docs, docs, nMerges)

  /** The shared WITH-clause body of the two BPE oracles: seqs_0 (vocab
    * with counts and self-delimited char sequences, keyed by word) plus
    * `nMerges` unrolled stages, each = pair-count → argmax → apply (the
    * same self-delimited replace). Generated here so the Spark loop and
    * its oracles can never drift on a constant. */
  private def bpeOracleStages(nMerges: Int): String = {
    val stages = (1 to nMerges).map { i =>
      // bestpad: when the vocab runs DRY before round i (best_i empty),
      // a bare cross join with the empty best would zero seqs_i and
      // every later stage — the ENCODE oracle would then drop all rows
      // while the Spark loop still encodes under the partial merge
      // table. The pad row carries a '#' pair no [a-z] symbol can ever
      // contain, so its replace is the identity and seqs_i degrades to
      // seqs_{i-1} — exactly the Spark loop's early-stop. The merge
      // TABLE still unions the unpadded best_i, so dry rounds emit no
      // merge row, also matching the loop. best_i is MATERIALIZED:
      // it is referenced twice per stage (bestpad + the final union),
      // and DuckDB inlines plain CTEs, which re-derives the whole
      // stage chain per reference — measured minutes vs 0.1 s.
      s"""exp_$i AS (
      SELECT cnt, arr, unnest(range(1, len(arr))) AS i FROM (
        SELECT cnt, string_split(regexp_replace(s, '^\\(|\\)$$', '', 'g'), ')(') AS arr
        FROM seqs_${i - 1})),
    pairs_$i AS (
      SELECT arr[i] AS l, arr[i + 1] AS r, sum(cnt) AS c FROM exp_$i GROUP BY 1, 2),
    best_$i AS MATERIALIZED (
      SELECT $i AS merge_rank, l, r, c FROM pairs_$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    bestpad_$i AS (
      SELECT l, r FROM best_$i
      UNION ALL
      SELECT '#', '#' WHERE NOT EXISTS (SELECT 1 FROM best_$i)),
    seqs_$i AS (
      SELECT w, cnt, replace(s, '(' || l || ')(' || r || ')', '(' || l || r || ')') AS s
      FROM seqs_${i - 1}, bestpad_$i)"""
    }
    s"""WITH seqs_0 AS (
      SELECT w, count(*) AS cnt, regexp_replace(w, '(.)', '(\\1)', 'g') AS s FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) GROUP BY w),
    ${stages.mkString(",\n    ")}"""
  }

  /** The DuckDB replay of [[bpeMerges]]: the merge table off the
    * unrolled stages. */
  def bpeMergesOracleSql(nMerges: Int): String = {
    val union = (1 to nMerges).map(i => s"SELECT * FROM best_$i")
      .mkString(" UNION ALL ")
    s"""${bpeOracleStages(nMerges)}
    SELECT merge_rank, l AS left_sym, r AS right_sym, l || r AS merged,
           CAST(c AS BIGINT) AS pair_count
    FROM ($union) ORDER BY merge_rank"""
  }

  /** The DuckDB replay of [[bpeRoundtrip]]: token counts off the final
    * segment stage (as in [[bpeEncodeOracleSql]]) and the round-trip
    * boolean replayed through the oracle's OWN segment table — per
    * word, stripping the segment delimiters must reproduce the word
    * (the merge fold is lossless), so the per-doc conjunction is the
    * decode(encode(x)) = normalize(x) check. */
  def bpeRoundtripOracleSql(nMerges: Int): String =
    s"""${bpeOracleStages(nMerges)},
    toks AS (
      SELECT w, CAST(len(string_split(
               regexp_replace(s, '^\\(|\\)$$', '', 'g'), ')(')) AS BIGINT)
               AS n_sym,
             (regexp_replace(s, '\\(|\\)', '', 'g') = w) AS word_ok
      FROM seqs_$nMerges),
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents)
    SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
           bool_and(word_ok) AS roundtrip_ok
    FROM dw JOIN toks USING (w)
    GROUP BY doc_id ORDER BY doc_id"""

  /** The DuckDB replay of [[bpeEncode]]: the final seqs_N stage IS the
    * segmented vocab — per-word token counts join back to the corpus
    * words exactly like the Spark side. */
  def bpeEncodeOracleSql(nMerges: Int): String =
    s"""${bpeOracleStages(nMerges)},
    toks AS (
      SELECT w, CAST(len(string_split(
               regexp_replace(s, '^\\(|\\)$$', '', 'g'), ')(')) AS BIGINT)
               AS n_sym
      FROM seqs_$nMerges),
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents)
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN toks USING (w)
    GROUP BY doc_id ORDER BY doc_id"""
}
