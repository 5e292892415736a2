package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles and MinHash signatures of a token array as
  * native Catalyst expressions — the per-document hot path of every
  * dedup gate (banding, Jaccard verify, decontamination).
  *
  * The higher-order forms they replace,
  * {{{
  *   shingles:  when(size(t) < n, array(concat_ws(" ", t)))
  *                .otherwise(transform(sequence(1, size(t) - (n - 1)),
  *                                     i => concat_ws(" ", slice(t, i, n))))
  *   signature: array_min(transform(transform(sh, md5),
  *                                  h => substring(h, 4i + 1, 4)))
  * }}}
  * build a joined string, a 32-char hex string and `numHashes`
  * substrings per shingle through interpreted lambdas. Here the tokens
  * are joined ONCE per row into one byte buffer (separator `' '`, null
  * tokens skipped as `concat_ws` does); a shingle is then a contiguous
  * slice of that buffer, fed straight into a thread-local md5 digest.
  *
  * Bit identity with the higher-order forms and the DuckDB oracle:
  *  - the shingle bytes are exactly the UTF-8 of `concat_ws(" ", …)`,
  *    and md5 of a string is md5 of its UTF-8 bytes in both engines;
  *  - hex chars 4i‥4i+3 of the digest are digest bytes 2i, 2i+1, so the
  *    slice read as an unsigned 16-bit value orders exactly as the
  *    4-char slice: fixed-width lowercase hex sorts lexicographically in
  *    numeric order ('0'‥'9' < 'a'‥'f' in ASCII). The minimum is
  *    computed on the integers and written back as 4 lowercase hex chars.
  *
  * MinHashKernelSpec pins both expressions against the higher-order
  * forms on seeded random token arrays, on both evaluation paths.
  */
object Shingling {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Word `n`-gram shingles of a token array (one shingle — the whole
    * join — when there are fewer than `n` tokens). */
  def shingles(toks: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(toks), n))

  /** `numHashes` MinHash signatures (4 hex chars each) over the word
    * 3-gram shingles of a token array: one md5 per shingle. */
  def minhashSignatures(toks: Column, numHashes: Int): Column =
    Bridge.column(MinhashSignatures(Bridge.expression(toks), numHashes))

  /** One md5 digest holds 8 disjoint 16-bit signature slots. */
  val MaxHashes = 8

  // the generated code calls the kernels through the static forwarders
  private[functions] val Name = getClass.getName.stripSuffix("$")

  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")

  def shingleArray(toks: ArrayData, n: Int): ArrayData = {
    val j = new Joined(toks, n)
    val out = new Array[Any](j.count)
    var w = 0
    while (w < j.count) {
      // the row's buffer is never written again, so shingles share it
      out(w) = UTF8String.fromBytes(j.buf, j.lo(w), j.hi(w) - j.lo(w))
      w += 1
    }
    new GenericArrayData(out)
  }

  def minhashArray(toks: ArrayData, numHashes: Int): ArrayData = {
    val j = new Joined(toks, 3)
    val md = digest.get()
    val d = new Array[Byte](16)
    val mins = Array.fill(numHashes)(Int.MaxValue)
    var w = 0
    while (w < j.count) {
      val lo = j.lo(w)
      md.update(j.buf, lo, j.hi(w) - lo)
      md.digest(d, 0, 16)
      var i = 0
      while (i < numHashes) {
        val v = ((d(2 * i) & 0xff) << 8) | (d(2 * i + 1) & 0xff)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      w += 1
    }
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) {
      val v = mins(i)
      out(i) = UTF8String.fromBytes(Array(
        hexDigits(v >>> 12), hexDigits((v >>> 8) & 0xf),
        hexDigits((v >>> 4) & 0xf), hexDigits(v & 0xf)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The tokens joined by `' '` into `buf`, non-null token t spanning
    * [start(t), end(t)); shingle w covers tokens w‥w+n-1, or all of
    * them when there are fewer than n. */
  private final class Joined(toks: ArrayData, n: Int) {
    private val k = toks.numElements()
    private val start = new Array[Int](k)
    private val end = new Array[Int](k)
    val count: Int = if (k < n) 1 else k - n + 1
    private val width = math.min(n, k)
    val buf: Array[Byte] = {
      val us = new Array[UTF8String](k)
      var total = -1
      var t = 0
      while (t < k) {
        if (!toks.isNullAt(t)) {
          us(t) = toks.getUTF8String(t)
          total += us(t).numBytes + 1
        }
        t += 1
      }
      val b = new Array[Byte](math.max(total, 0))
      var pos = -1
      t = 0
      while (t < k) {
        if (us(t) == null) end(t) = -1
        else {
          if (pos >= 0) b(pos) = ' '
          start(t) = pos + 1
          us(t).writeToMemory(b, Platform.BYTE_ARRAY_OFFSET + start(t))
          pos = start(t) + us(t).numBytes
          end(t) = pos
        }
        t += 1
      }
      b
    }

    /** Start of the first non-null token of shingle w (0 if none). */
    def lo(w: Int): Int = {
      var t = w
      while (t < w + width && end(t) < 0) t += 1
      if (t < w + width) start(t) else 0
    }

    /** End of the last non-null token of shingle w (0 if none). */
    def hi(w: Int): Int = {
      var t = w + width - 1
      while (t >= w && end(t) < 0) t -= 1
      if (t >= w) end(t) else 0
    }
  }

  private[functions] def checkTokens(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires an array<string> of tokens, got ${other.catalogString}")
    }
}

/** `Shingles(tokens, n)` → `array<string>`: see [[Shingling]]. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Shingling.checkTokens(prettyName, child)

  override def nullSafeEval(v: Any): Any =
    Shingling.shingleArray(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = ${Shingling.Name}.shingleArray($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** `MinhashSignatures(tokens, numHashes)` → `array<string>` of
  * `numHashes` ≤ 8 signatures over word 3-gram shingles: see
  * [[Shingling]]. */
case class MinhashSignatures(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= Shingling.MaxHashes,
    s"numHashes must be in 1..${Shingling.MaxHashes} (one md5 digest), got $numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_signatures"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Shingling.checkTokens(prettyName, child)

  override def nullSafeEval(v: Any): Any =
    Shingling.minhashArray(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = ${Shingling.Name}.minhashArray($t, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatures =
    copy(child = newChild)
}
