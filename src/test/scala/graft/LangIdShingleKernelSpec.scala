package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.functions._

/** The shingle-key and language-ID kernels against the higher-order
  * function forms they replaced, which live only here: every value must
  * be bit-identical, on the real corpus and on edge inputs. */
class LangIdShingleKernelSpec extends SparkSpec {
  import spark.implicits._

  private val StopSet = "('the','a')"
  private val Profile = Seq("th", "he", "in", "er", "an", "re")

  /** (doc_id, shingle_h, shingle_l) from the shingle strings. */
  private def shingleKeysHof(docs: DataFrame, n: Int) =
    graft.ext.DedupOps.shingles(docs, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle_h"),
        length(col("shingle")).as("shingle_l"))

  private def keyRows(df: DataFrame) =
    df.select(col("doc_id"), col("shingle_h"), col("shingle_l"))
      .as[(Long, Long, Int)].collect().sorted.toSeq

  private def stopCountHof = expr(s"size(filter(words, w -> w in $StopSet))")

  private def bigramCountHof(profile: Seq[String]) = expr(
    s"""size(filter(transform(sequence(1, length(text) - 1),
                              i -> substring(text, i, 2)),
                    g -> g in (${profile.map(g => s"'$g'").mkString(",")})))""")

  /** (doc_id, hof, kernel) for both counting kernels. */
  private def counts(docs: DataFrame, profile: Seq[String]) =
    docs.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        stopCountHof.as("stop_hof"),
        graft.functions.CountInSet.column(col("words"), Seq("the", "a")).as("stop_k"),
        bigramCountHof(profile).as("bi_hof"),
        graft.functions.BigramProfileCount.column(col("text"), profile).as("bi_k"))
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Int])]
      .collect().sortBy(_._1).toSeq

  private val edgeDocs = Seq[(Long, String)](
    (1L, null),
    (2L, ""),
    (3L, "t"),
    (4L, "a"),
    (5L, "thé café ünïcode the thé"),
    (6L, "𝔱he 😀 the 😀 th𝔢 a"),
    (7L, "the  a  the   quick"),
    (8L, "a b"),
    (9L, "a b c a b c a b c"),
    (10L, " "),
    (11L, "th"),
    (12L, "in the then there")
  ).toDF("doc_id", "text")

  test("shingle_keys equals fingerprinted shingle strings on the corpus") {
    val docs = Tables.documents(spark, sfDir)
    for (n <- Seq(1, 3, 5)) {
      val want = keyRows(shingleKeysHof(docs, n))
      val got = keyRows(graft.ext.DedupOps.shingleKeys(docs, n))
      assert(want.nonEmpty)
      assert(got === want, s"n=$n")
    }
  }

  test("shingle_keys edges: null, empty, multibyte, surrogate pairs, " +
       "empty tokens, short docs, repeated shingles") {
    for (n <- Seq(1, 2, 3)) {
      assert(keyRows(graft.ext.DedupOps.shingleKeys(edgeDocs, n)) ===
             keyRows(shingleKeysHof(edgeDocs, n)), s"n=$n")
    }
    // the repeated shingle is emitted once, and a 2-word doc has no 3-shingle
    val k3 = keyRows(graft.ext.DedupOps.shingleKeys(edgeDocs, 3))
    assert(k3.count(_._1 == 9L) === 3)
    assert(!k3.exists(_._1 == 8L))
  }

  test("shingle_keys n_a is the doc's distinct-shingle count") {
    val withSize = graft.ext.DedupOps.shingleKeys(edgeDocs, 2, Some("n_sh"))
      .select("doc_id", "n_sh").distinct().as[(Long, Int)].collect().toMap
    val counted = shingleKeysHof(edgeDocs, 2).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(withSize === counted.map { case (d, c) => d -> c.toInt })
  }

  test("shingle_keys is registered for SQL") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql("SELECT inline(shingle_keys(split('a b a b', ' '), 2))")
      .as[(Long, Int)].collect().toSeq
    val want = Seq("a b", "b a").map(s =>
      spark.sql(s"SELECT xxhash64('$s'), length('$s')").as[(Long, Int)].head())
    assert(r === want)
  }

  test("count kernels equal the HOF forms on the corpus and on edges") {
    val corpus = counts(Tables.documents(spark, sfDir), Profile)
    assert(corpus.exists(_._5.exists(_ > 0)))
    corpus.foreach { case (d, sh, sk, bh, bk) =>
      assert(sk === sh, s"stop count doc $d")
      assert(bk === bh, s"bigram count doc $d")
    }
    // single-character and empty entries exercise the descending
    // sequence(1, length - 1) below two characters
    for (profile <- Seq(Profile, Seq("t", "a", "", " ", "é", "😀", "𝔱h", "he"))) {
      counts(edgeDocs, profile).foreach { case (d, sh, sk, bh, bk) =>
        assert(sk === sh, s"stop count doc $d")
        assert(bk === bh, s"bigram count doc $d, profile $profile")
      }
    }
  }

  test("langId, quality and isEnglishPredicate equal their HOF forms") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .union(edgeDocs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val langHof = docs.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        expr(s"round(size(filter(words, w -> w in $StopSet)) / cast(size(words) as double), 4)")
          .as("en_score"),
        round(try_divide(bigramCountHof(Profile), (length(col("text")) - 1).cast("double")), 4)
          .as("en_bigram_score"))
    def rows(df: DataFrame) =
      df.select(col("doc_id"), col("en_score").cast("string"),
          col("en_bigram_score").cast("string"))
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val langRows = rows(graft.ext.TextOps.langId(docs))
    assert(langRows === rows(langHof))
    // the 1-character doc "t" has no bigram score, as in the oracle
    assert(langRows.find(_._1 == 100003L).map(_._3) === Some(null))

    val stopHof = docs.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), expr(
        s"round(size(filter(words, w -> w in $StopSet)) / cast(size(words) as double), 4)")
        .cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val stopKernel = graft.ext.TextOps.quality(docs)
      .select(col("doc_id"), col("stop_ratio").cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(stopKernel === stopHof)

    val englishHof = expr(s"round(size(filter(split(text, ' '), w -> w in $StopSet)) " +
      "/ cast(size(split(text, ' ')) as double), 4)") > lit(0.03)
    val ids = (p: org.apache.spark.sql.Column) =>
      docs.filter(p).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(graft.ext.TextOps.isEnglishPredicate) === ids(englishHof))
    assert(ids(graft.ext.TextOps.isEnglishPredicate).nonEmpty)
  }

  test("text_langid and dedup_incremental plans run no lambda") {
    for (seat <- Seq("text_langid", "dedup_incremental")) {
      val plan = SparkEntry.queries(seat)(spark, sfDir).queryExecution.optimizedPlan
      val lambdas = plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case l: LambdaFunction => l })
      assert(lambdas.isEmpty, s"$seat: $lambdas")
    }
  }
}
