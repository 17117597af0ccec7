package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity — the entity-resolution scorer
  * Levenshtein under-serves (it over-penalizes transpositions and early
  * typos that JW was designed for). Classic definition: Jaro = mean of
  * (m/|a|, m/|b|, (m−t)/m) with the standard ⌊max/2⌋−1 match window and
  * half-transposition count; Winkler boost `j + ℓ·0.1·(1−j)` for the
  * common prefix ℓ ≤ 4, applied only above the 0.7 threshold. This is
  * bit-compatible with DuckDB's `jaro_winkler_similarity` (verified over
  * crafted pairs incl. threshold and transposition edges), which is what
  * lets the oracle grade the engine's scores exactly.
  *
  * Codegen emits a call to the static [[JaroWinkler.similarity]] — the
  * same shape as Spark's own `levenshtein` (a library routine invoked
  * from generated code; no interpreted-projection fallback, no boxing).
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.similarity($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  /** Classic Jaro-Winkler (see [[JaroWinklerSim]]); public static so both
    * the interpreted and generated paths run the identical routine. */
  def similarity(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val (l1, l2) = (s1.length, s2.length)
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var hit = false
      while (j < hi && !hit) {
        if (!m2(j) && s2.charAt(j) == s1.charAt(i)) {
          m1(i) = true; m2(j) = true; m += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      var prefix = 0
      val cap = math.min(4, math.min(l1, l2))
      while (prefix < cap && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
      jaro + prefix * 0.1 * (1.0 - jaro)
    }
  }
}
