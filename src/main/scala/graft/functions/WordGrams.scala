package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct space-joined word n-grams of a token array, in first-occurrence
  * order — the string gram unit of the md5 Bloom filter.
  *
  * One codegen'd pass over the tokens. It replaces the Column formulation
  * `array_distinct(transform(sequence(...), i => concat_ws(" ", slice(...))))`,
  * whose lambda Spark evaluates interpreted, and reproduces it exactly:
  * gram w joins the non-null tokens at positions w .. w+n-1 with one space
  * (`concat_ws` skips nulls), and a token array shorter than n gives one
  * gram over all of it (for the [[graft.operators.Dedup.tokens]] split
  * that is the whole normalized text; `""` gives `[""]`). */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram length must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(WordGrams.grams(v.asInstanceOf[ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.WordGrams.grams($c, $n))")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object WordGrams {

  private val Space = UTF8String.fromString(" ")

  /** Static kernel shared by interpreted eval, generated code and
    * [[BloomProbe]]. */
  def grams(tokens: ArrayData, n: Int): Array[Any] = {
    val m = tokens.numElements()
    val cnt = math.max(m - n + 1, 1)
    val seen = new java.util.HashSet[UTF8String](cnt * 2)
    val out = new Array[Any](cnt)
    var uniq = 0
    var w = 0
    while (w < cnt) {
      val end = math.min(w + n, m)
      val window = new Array[UTF8String](end - w)
      var j = w
      while (j < end) {
        window(j - w) = if (tokens.isNullAt(j)) null else tokens.getUTF8String(j)
        j += 1
      }
      val g = UTF8String.concatWs(Space, window: _*)
      if (seen.add(g)) { out(uniq) = g; uniq += 1 }
      w += 1
    }
    if (uniq == cnt) out else out.take(uniq)
  }

  def wordGrams(tokens: Column, n: Int): Column =
    Shim.column(WordGrams(Shim.expression(tokens), n))
}
