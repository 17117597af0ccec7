package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** TRUE Damerau-Levenshtein distance (the unrestricted form, with the
  * per-alphabet last-occurrence table — "ca"→"abc" is 2, where the
  * restricted/OSA variant says 3): Levenshtein treats an adjacent
  * transposition — the single most common human typo — as TWO errors,
  * which mis-ranks "recieve"-style entity matches. Spark ships only
  * `levenshtein`; DuckDB's `damerau_levenshtein` implements this same
  * unrestricted definition (verified on the OSA-discriminating cases),
  * which is what lets the oracle grade the distances exactly.
  *
  * Codegen calls the shared static routine, like [[JaroWinklerSim]]. */
case class DamerauLevenshteinDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.distance(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DamerauLevenshtein.distance($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {
  /** Unrestricted Damerau-Levenshtein (Lowrance–Wagner): O(|a|·|b|) with
    * the last-occurrence alphabet table. */
  def distance(a: String, b: String): Int = {
    val (la, lb) = (a.length, b.length)
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val da = new java.util.HashMap[Char, Int]()
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val i1 = da.getOrDefault(b.charAt(j - 1), 0)
        val j1 = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = math.min(
          math.min(d(i)(j) + cost, d(i + 1)(j) + 1),
          math.min(d(i)(j + 1) + 1,
            d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1)
  }
}
