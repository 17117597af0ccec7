package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.SimilarityOps
import graft.functions.GraftExtensions

/** Native Catalyst expression: correctness vs the higher-order-function
  * formulation, null handling, SQL registration via extensions. */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def cosineSim(a: Column, b: Column): Column =
    GraftExtensions.call("cosine_sim", a, b)

  test("native cosine matches higher-order-function cosine on real vectors") {
    val emb = Tables.embeddings(spark, sfDir)
    val nat = SimilarityOps.bruteForceTopKNative(emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    val hof = SimilarityOps.bruteForceTopK(emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(nat === hof)
  }

  test("known values and null propagation") {
    val df = Seq(
      (1L, Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))),  // orthogonal -> 0
      (2L, Some(Seq(1.0, 2.0)), Some(Seq(2.0, 4.0))),  // parallel -> 1
      (3L, None, Some(Seq(1.0, 1.0))),                 // null in -> null out
      (4L, Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0)))   // zero norm -> 0.0
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        cosineSim(col("a"), col("b")).as("c"))
      .as[(Long, Option[Double])].collect().toMap
    assert(math.abs(out(1L).get - 0.0) < 1e-12)
    assert(math.abs(out(2L).get - 1.0) < 1e-12)
    assert(out(3L).isEmpty)
    assert(out(4L).get === 0.0)
  }

  test("codegen and interpreted paths agree") {
    val df = Seq((Seq(0.5, -1.5, 2.0), Seq(1.0, 0.25, -0.75))).toDF("a", "b")
    val viaCodegen = df.select(cosineSim(col("a"), col("b"))).as[Double].head()
    // force interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val viaInterp =
      try df.select(cosineSim(col("a"), col("b"))).as[Double].head()
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(math.abs(viaCodegen - viaInterp) < 1e-15)
  }

  test("cosine_sim is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D)) AS c")
      .as[Double].head()
    assert(math.abs(r - math.sqrt(0.5)) < 1e-12)
  }
}
