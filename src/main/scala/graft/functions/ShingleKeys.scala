package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The distinct `(shingle_h, shingle_l)` keys of every `n`-word shingle
  * of an `array<string>` token column — the shingle family's join and
  * group key, bit-identical to fingerprinting the shingle strings:
  *
  * `shingle_h = xxhash64(concat_ws(' ', slice(words, i+1, n)))` (seed 42)
  * and `shingle_l = length(...)` of the same shingle, over
  * `array_distinct(transform(sequence(0, size(words) - n), i -> ...))`.
  *
  * That HOF form runs as interpreted lambdas (`ArrayTransform` is a
  * `CodegenFallback`) and builds every shingle as a string only to hash
  * it away. Here each window's bytes are laid into one byte buffer
  * reused across the document's windows and hashed in place; the length
  * is counted over the same bytes with `UTF8String`'s own stepping, so
  * both columns equal the string forms on any input. Null elements are
  * skipped with their separator, as `concat_ws` skips them.
  *
  * Distinctness is on the key pair, where the HOF form is distinct on
  * the string: the two differ only when two DIFFERENT shingles of one
  * document collide on both the 64-bit hash and the length, which the
  * string form would emit as two equal key rows and this kernel as one
  * (P ≈ k²·2⁻⁶⁵ per document of k shingles). */
case class ShingleKeys(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(ShingleKeys.KeyType, containsNull = false)
  override def prettyName: String = "shingle_keys"

  override protected def nullSafeEval(v: Any): Any =
    ShingleKeys.keys(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.ShingleKeys.keys($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
}

object ShingleKeys {
  val KeyType: StructType = StructType(Seq(
    StructField("shingle_h", LongType, nullable = false),
    StructField("shingle_l", IntegerType, nullable = false)))

  def keys(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    val k = m - n + 1
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val ws = new Array[UTF8String](m)
    var cap = m
    var i = 0
    while (i < m) {
      ws(i) = words.getUTF8String(i)
      if (ws(i) != null) cap += ws(i).numBytes
      i += 1
    }
    val buf = new Array[Byte](cap)
    val hs = new Array[Long](k)
    val ls = new Array[Int](k)
    // open addressing over the keys emitted so far: slot = index + 1
    val slots = new Array[Int](Integer.highestOneBit(2 * k - 1) << 1)
    val mask = slots.length - 1
    var out = 0
    i = 0
    while (i < k) {
      var len = 0
      var first = true
      var j = i
      while (j < i + n) {
        val w = ws(j)
        if (w != null) {
          if (!first) { buf(len) = ' '; len += 1 }
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += w.numBytes
          first = false
        }
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      val l = numChars(buf, len)
      var s = (h.toInt ^ (h >>> 32).toInt ^ l) & mask
      while (slots(s) != 0 && !(hs(slots(s) - 1) == h && ls(slots(s) - 1) == l))
        s = (s + 1) & mask
      if (slots(s) == 0) {
        hs(out) = h; ls(out) = l; out += 1; slots(s) = out
      }
      i += 1
    }
    val rows = new Array[Any](out)
    i = 0
    while (i < out) {
      rows(i) = new GenericInternalRow(Array[Any](hs(i), ls(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** `UTF8String.numChars` over `buf[0, len)`. */
  private def numChars(buf: Array[Byte], len: Int): Int = {
    var c = 0
    var p = 0
    while (p < len) {
      p += UTF8String.numBytesForFirstByte(buf(p))
      c += 1
    }
    c
  }
}
