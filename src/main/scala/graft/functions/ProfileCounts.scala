package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.KernelColumns
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** A count that stands in for `size(filter(...))`, null for a null
  * input as `size` is with ANSI on (Spark 4's default). Generated code
  * calls the companion's static `count(input, setRef)`. */
private[functions] abstract class ProfileCount extends UnaryExpression {
  protected def setRef: AnyRef

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("profile", setRef)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = ${getClass.getName}.count($v, $set);")
  }
}

/** `size(filter(arr, w -> w in (<set>)))` over an `array<string>` in one
  * codegen'd pass: the number of elements equal to a member of `set`
  * (null elements never count, as `null in (...)` is null). The
  * stop-word count of [[graft.ext.TextOps]]' language ID and quality
  * scores. */
case class CountInSet(child: Expression, set: Seq[String]) extends ProfileCount {
  @transient private lazy val elems: Array[UTF8String] =
    set.map(UTF8String.fromString).toArray
  override def prettyName: String = "count_in_set"
  override protected def setRef: AnyRef = elems
  override protected def nullSafeEval(input: Any): Any =
    CountInSet.count(input.asInstanceOf[ArrayData], elems)
  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

object CountInSet {
  def column(arr: Column, set: Seq[String]): Column =
    KernelColumns.column(CountInSet(KernelColumns.expression(arr), set))

  def count(arr: ArrayData, set: Array[UTF8String]): Int = {
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i)
        var j = 0
        while (j < set.length && !set(j).equals(w)) j += 1
        if (j < set.length) c += 1
      }
      i += 1
    }
    c
  }
}

/** The character-bigram profile count of a string, in one pass over its
  * code points: exactly
  * `size(filter(transform(sequence(1, length(text) - 1),
  *   i -> substring(text, i, 2)), g -> g in (<profile>)))`.
  * That form calls `substring` per position, and each call re-counts the
  * string's characters from its start: O(n²) per document. Characters
  * step as `UTF8String.numChars` steps them. Below two characters
  * `sequence(1, length - 1)` runs DOWN (`[1, 0]` for one character,
  * `[1, 0, -1]` for none), and every one of those `substring` calls
  * returns the whole text, so the count is `3 - length` when the text
  * itself is in the profile and 0 otherwise. */
case class BigramProfileCount(child: Expression, profile: Seq[String])
    extends ProfileCount {
  @transient private lazy val grams: Array[Array[Byte]] =
    profile.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  override def prettyName: String = "bigram_profile_count"
  override protected def setRef: AnyRef = grams
  override protected def nullSafeEval(input: Any): Any =
    BigramProfileCount.count(input.asInstanceOf[UTF8String], grams)
  override protected def withNewChildInternal(newChild: Expression): BigramProfileCount =
    copy(child = newChild)
}

object BigramProfileCount {
  def column(text: Column, profile: Seq[String]): Column =
    KernelColumns.column(BigramProfileCount(KernelColumns.expression(text), profile))

  def count(u: UTF8String, grams: Array[Array[Byte]]): Int = {
    val nb = u.numBytes
    // a, b, c: byte offsets of three consecutive characters
    var a = 0
    var b = if (nb == 0) 0 else step(u, 0, nb)
    if (b >= nb) { // fewer than two characters
      val length = if (nb == 0) 0 else 1
      return if (inProfile(u, 0, nb, grams)) 3 - length else 0
    }
    var n = 0
    while (b < nb) {
      val c = step(u, b, nb)
      if (inProfile(u, a, c, grams)) n += 1
      a = b
      b = c
    }
    n
  }

  private def step(u: UTF8String, p: Int, nb: Int): Int =
    math.min(p + UTF8String.numBytesForFirstByte(u.getByte(p)), nb)

  private def inProfile(u: UTF8String, from: Int, until: Int,
                        grams: Array[Array[Byte]]): Boolean = {
    var g = 0
    while (g < grams.length) {
      val bs = grams(g)
      if (bs.length == until - from) {
        var i = 0
        while (i < bs.length && bs(i) == u.getByte(from + i)) i += 1
        if (i == bs.length) return true
      }
      g += 1
    }
    false
  }
}
