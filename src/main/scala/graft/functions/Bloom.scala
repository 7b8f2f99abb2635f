package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, ShiftLeft, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The md5 Bloom filter's one hash routine, shared by the build
  * ([[BloomPositions]]) and both probes ([[BloomContains]],
  * [[BloomProbe]]) so the two sides cannot drift apart.
  *
  * k positions by Kirsch-Mitzenmacher double hashing,
  * pos_i = (h1 + i*h2) mod m, where h1 and h2 are the first and second
  * 4 bytes of md5(item) read big-endian and unsigned — the halves
  * `conv(substring(md5(x), 1 | 9, 8), 16, 10)` reads, so an engine with
  * only SQL md5 (the DuckDB oracles of q207/q210) replays the same bits.
  * The bitmap is m/64 packed words; bit p lives in word p/64 at p mod 64. */
object Bloom {

  private val Md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The first 8 bytes of md5(item), big-endian: h1 << 32 | h2. */
  private def hashes(item: UTF8String): Long = {
    val md = Md5.get()
    md.update(item.getByteBuffer)
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  private def position(h: Long, i: Int, mBits: Long): Long =
    ((h >>> 32) + i * (h & 0xffffffffL)) % mBits

  def positions(item: UTF8String, mBits: Int, k: Int): Array[Long] = {
    val h = hashes(item)
    Array.tabulate(k)(i => position(h, i, mBits))
  }

  /** True iff all k positions of `item` are set in `bits`. */
  def mightContain(bits: Array[Long], item: UTF8String, k: Int): Boolean = {
    val h = hashes(item)
    val m = bits.length * 64L
    var i = 0
    while (i < k) {
      val p = position(h, i, m)
      if (((bits((p >>> 6).toInt) >>> (p & 63)) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** (n_grams, n_maybe) of one row: its distinct word n-grams
    * ([[WordGrams.grams]]) and how many of them probe maybe-present. */
  def probe(bits: Array[Long], tokens: ArrayData, n: Int, k: Int): InternalRow = {
    val grams = WordGrams.grams(tokens, n)
    var maybe = 0L
    var i = 0
    while (i < grams.length) {
      if (mightContain(bits, grams(i).asInstanceOf[UTF8String], k)) maybe += 1
      i += 1
    }
    InternalRow(grams.length.toLong, maybe)
  }

  private def checkBits(bits: Array[Long], mBits: Int): Unit =
    require(bits.length * 64L == mBits,
      s"bitmap holds ${bits.length * 64L} bits, expected $mBits")

  def bloomPositions(item: Column, mBits: Int, k: Int): Column =
    Shim.column(BloomPositions(Shim.expression(item), mBits, k))

  /** The bit of position `pos` within its bitmap word: 1L << (pos mod 64). */
  def bit(pos: Column): Column =
    Shim.column(ShiftLeft(Literal(1L),
      Shim.expression(pos.bitwiseAND(63).cast("int"))))

  def bloomContains(bits: Array[Long], item: Column, mBits: Int,
      k: Int): Column = {
    checkBits(bits, mBits)
    Shim.column(BloomContains(Shim.expression(item), bits, k))
  }

  def bloomProbe(bits: Array[Long], tokens: Column, n: Int, mBits: Int,
      k: Int): Column = {
    checkBits(bits, mBits)
    Shim.column(BloomProbe(Shim.expression(tokens), n, bits, k))
  }
}

/** Build side: the k bit positions of a string item. */
case class BloomPositions(child: Expression, mBits: Int, k: Int)
    extends UnaryExpression {
  require(mBits > 0 && mBits % 64 == 0, s"mBits must be a multiple of 64")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Bloom.positions(v.asInstanceOf[UTF8String], mBits, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Bloom.positions($c, $mBits, $k))")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Probe side for one string item against a built bitmap, held by the
  * generated code as a `long[]` reference object. */
case class BloomContains(child: Expression, bits: Array[Long], k: Int)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(v: Any): Any =
    Bloom.mightContain(bits, v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Bloom.mightContain($ref, $c, $k)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Fused per-row probe over a token array: the row's distinct word
  * n-grams are built, hashed once each and tested in one pass, giving
  * struct(n_grams, n_maybe) — no per-gram row ever exists. */
case class BloomProbe(child: Expression, n: Int, bits: Array[Long], k: Int)
    extends UnaryExpression {
  require(n >= 1, s"gram length must be >= 1, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_maybe", LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    Bloom.probe(bits, v.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Bloom.probe($ref, $c, $n, $k)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
