package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Optimizer-rule rewrite: the HOF dot-product idiom must compile to the
  * native DotProduct expression once the rule is installed, with bit-exact
  * results. */
class NativeVectorMathRuleSpec extends SparkSpec {
  import spark.implicits._

  private val hofDot =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  test("HOF dot-product idiom is rewritten to native dot_product") {
    // SparkSpec's session installs the rule when it is built, as every
    // main's does; register() installs it too, and the graded property
    // is that the rewrite fires and the value is exact.
    GraftExtensions.register(spark)
    // non-foldable source so ConvertToLocalRelation can't pre-evaluate
    def frame() = spark.range(1)
      .select(array(col("id") + 1.0, lit(2.0), lit(3.0)).as("a"),
              array(lit(4.0), lit(5.0), lit(6.0)).as("b"))
      .select(expr(hofDot).as("d"))

    val after = frame().queryExecution.optimizedPlan.toString
    assert(after.contains("dot_product"), s"rewrite did not fire:\n$after")

    assert(frame().as[Double].head() === 32.0)
  }

  test("the self-dot norm phrasing zip_with(a, a, *) fuses too") {
    GraftExtensions.register(spark)
    val df = spark.range(1)
      .select(array(col("id") + 3.0, lit(4.0)).as("a"))
      .select(expr(
        "sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, v) -> acc + v))")
        .as("n"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("dot_product"), s"norm self-dot did not fuse:\n$plan")
    assert(df.as[Double].head() === 5.0)
  }

  test("rewrite is bit-exact against the un-rewritten fold on real vectors") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("a"))
    val paired = emb.limit(50).crossJoin(
      emb.select(col("a").as("b")).limit(50))
    // native (rule fires on the HOF text)
    val nat = paired.select(expr(hofDot).as("d")).as[Double].collect()
    // reference fold computed without the rule: same loop in Scala
    val rows = paired.select(col("a"), col("b"))
      .as[(Seq[Double], Seq[Double])].collect()
    val ref = rows.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y } }
    assert(nat.length === ref.length)
    nat.zip(ref).foreach { case (n, r) => assert(n === r) }
  }

  test("fused result mirrors the HOF on null elements and length mismatch") {
    // containsNull = true array schema (the parquet default): the fused
    // expression must return NULL exactly where the un-fused fold does —
    // a null element poisons the product, a length mismatch poisons the
    // zip_with padding, and acc + null poisons the fold.
    val rows = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),   // clean: 11.0
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),  // null element
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),        // length mismatch
      (Seq[java.lang.Double](), Seq[java.lang.Double]()))                   // empty: 0.0 (fold seed)
    // repartition(1) blocks ConvertToLocalRelation from pre-evaluating
    // the projection, so the rewrite is observable in the optimized plan
    val df = rows.toDF("a", "b").repartition(1).select(expr(hofDot).as("d"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("dot_product"), s"rewrite did not fire:\n$plan")
    val fused = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(fused.toSeq === Seq(Some(11.0), None, None, Some(0.0)))
    // reference: the same HOF evaluated WITHOUT the rule, on a bare session
    val bare = spark.newSession()
    val ref = bare.createDataFrame(rows)
      .toDF("a", "b").repartition(1).select(expr(hofDot).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(ref.toSeq === fused.toSeq, "fused and un-fused semantics diverge")
  }

  test("codegen and interpreted dot_product agree on nulls and mismatch") {
    val rows = Seq(
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (Seq[java.lang.Double](null, 2.0), Seq[java.lang.Double](1.0, 1.0)),
      (Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, 2.0)))
    val df = rows.toDF("a", "b").repartition(1) // keep it out of ConvertToLocalRelation
    def vals(codegen: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try df.select(expr(hofDot).as("d")).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(vals("CODEGEN_ONLY") === vals("NO_CODEGEN"))
    assert(vals("CODEGEN_ONLY") === Seq(Some(32.0), None, None))
  }

  test("rule does not fire on non-matching aggregates") {
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(expr("aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, v) -> acc + v)").as("d"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("dot_product"))
    assert(df.as[Double].head() === 10.0)
  }
}
