package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.KernelColumns

/** SparkSessionExtensions hook: registers graft's native expressions under
  * their SQL names and installs graft's optimizer rules. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`, or
  * call [[GraftExtensions.register]] on a live session. Operator code never
  * needs either: it builds kernels as Columns with [[GraftExtensions.call]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.descriptor))
    GraftExtensions.optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
  }
}

object GraftExtensions {

  /** One native function: its SQL name, the expression class it builds
    * and the builder over its `arity` argument expressions. */
  private final class Fn(val name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression) {
    def apply(args: Seq[Expression]): Expression = {
      require(args.size == arity, s"$name takes exactly $arity args, got ${args.size}")
      try build(args) catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$name: ${e.getMessage}", e)
      }
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), apply)
  }

  /** A width argument (bit count, shingle width, chunk divisor): the
    * kernels specialize on it, so it must be an int literal. */
  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected an int literal, got $other")
  }

  /** graft's native functions. `graft_bloom_agg`/`graft_might_contain`
    * surface Spark's own BloomFilterAggregate/BloomFilterMightContain (the
    * pair InjectRuntimeFilter plans, which has no SQL name) for an explicit
    * Bloom pre-filter: [[graft.ext.DedupOps.incrementalDedupBloom]]. */
  private val functions: Seq[Fn] = Seq(
    new Fn("cosine_sim", classOf[CosineSimilarity], 2)(a => CosineSimilarity(a(0), a(1))),
    new Fn("hyperplane_sig", classOf[HyperplaneSig], 2)(a => HyperplaneSig(a(0), intLit(a(1)))),
    new Fn("simhash64", classOf[SimHash64], 1)(a => SimHash64(a(0))),
    new Fn("graft_bloom_agg", classOf[BloomFilterAggregate], 3)(
      a => new BloomFilterAggregate(a(0), a(1), a(2))),
    new Fn("graft_might_contain", classOf[BloomFilterMightContain], 2)(
      a => BloomFilterMightContain(a(0), a(1))),
    new Fn("jaro_winkler", classOf[JaroWinklerSim], 2)(a => JaroWinklerSim(a(0), a(1))),
    new Fn("nfc_normalize", classOf[NfcNormalize], 1)(a => NfcNormalize(a(0))),
    new Fn("damerau_levenshtein", classOf[DamerauLevenshteinDist], 2)(
      a => DamerauLevenshteinDist(a(0), a(1))),
    new Fn("centroid_argmax", classOf[CentroidArgmax], 2)(a => CentroidArgmax(a(0), a(1))),
    new Fn("top_bigram_count", classOf[TopBigramCount], 1)(a => TopBigramCount(a(0))),
    new Fn("ngram_fingerprints", classOf[NgramFingerprints], 2)(
      a => NgramFingerprints(a(0), intLit(a(1)))),
    new Fn("shingle_keys", classOf[ShingleKeys], 2)(a => ShingleKeys(a(0), intLit(a(1)))),
    new Fn("cdc_chunk_spans", classOf[CdcChunkSpans], 2)(a => CdcChunkSpans(a(0), intLit(a(1)))),
    new Fn("char_poly_hash", classOf[CharPolyHash], 1)(a => CharPolyHash(a(0))))

  private val byName: Map[String, Fn] = functions.map(f => f.name -> f).toMap

  /** The graft function `name` over `args` as a Column: the expression the
    * SQL name resolves to, built without the session's function registry,
    * so it works in any session and changes no session state. An aggregate
    * is wrapped as `ResolveFunctions` wraps it on the SQL path. */
  def call(name: String, args: Column*): Column = {
    val fn = byName.getOrElse(name,
      throw new IllegalArgumentException(s"no graft function named $name"))
    KernelColumns.column(fn(args.map(KernelColumns.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }

  /** Registers graft's function names on a live session, for SQL text
    * that names them, and installs graft's optimizer rules. Idempotent. */
  def register(spark: SparkSession): Unit = {
    installOptimizations(spark)
    val registry = spark.sessionState.functionRegistry
    functions.map(_.descriptor).foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Late install of the optimizer rewrites on a live session (extensions
    * only apply at session build time). Idempotent; synchronized because
    * the check-and-append on `extraOptimizations` is a read-modify-write. */
  def installOptimizations(spark: SparkSession): Unit = this.synchronized {
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      installed ++ optimizerRules.filterNot(installed.contains)
  }

  /** graft's optimizer rewrites, in the order they are installed. */
  private val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(NativeVectorMathRule, JsonFieldPruning)
}
