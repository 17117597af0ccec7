package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native expression — the text-dedup
  * preprocessor Spark lacks: composed ("café") and decomposed
  * ("cafe" + U+0301) spellings are byte-different but canonically equal,
  * so every digest/shingle/join key computed over un-normalized text
  * silently splits duplicates. Wraps the JDK's `java.text.Normalizer`
  * (public API, the ICU-equivalent canonical composition); DuckDB's
  * `nfc_normalize` implements the same UAX #15 form, which is what lets
  * the oracle grade outputs byte-for-byte. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any =
    NfcNormalize.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
}
