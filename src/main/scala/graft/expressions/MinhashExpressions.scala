package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the SECOND profile-proven hot path:
  * the row-local MinHash signature (8 lexicographic minima of md5-hex
  * slices over 3-token shingles — [[graft.functions.TextFunctions
  * .minhashSig]]'s exact arithmetic).
  *
  * The HOF formulation ([[graft.api.GraftOps.rowLocalBands]]'s
  * shared-digest fold) is the best COMPOSED form — its own Scaladoc
  * records the 229 s → 5.1 s → 3.5 s A/B ladder — but higher-order
  * functions stay interpreted (CodegenFallback with per-ELEMENT
  * Catalyst dispatch), so the row-local path still ran ~4× slower
  * than the explode+min batch twin on the same input. This expression
  * does the whole signature in one tight JVM pass per row: split,
  * shingle, two incremental MD5 digests per shingle (no "8:"+s concat
  * copy — the seed is a digest-update), slice minima tracked without
  * per-comparison substring allocation. Same bytes in, same hex out:
  * tokenization is the Java-regex `\s+` split with empties dropped
  * (exactly `tokens()` — Spark's `trim`+split+filter composition),
  * and empty shingle sets yield the seed-only digest slices, so
  * output is bit-identical to both the HOF form (parity
  * property-pinned) and the DuckDB oracle.
  *
  * With [[VecDot]] and [[DistinctShingles]] this makes three custom
  * Catalyst pieces, each behind the same stated bar: composition works
  * but is profiling-proven slow on a hot path. */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"expects string, got ${child.dataType}")

  override protected def nullSafeEval(t: Any): Any =
    MinhashSig.compute(t.asInstanceOf[UTF8String])

  // One static call per ROW keeps the projection inside whole-stage
  // codegen (the HOF path broke fusion per element, not per row).
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinhashSig$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : MinhashSig = copy(child = newChild)
}

object MinhashSig {
  private val Hex = "0123456789abcdef".toCharArray
  private val Seed = "8:".getBytes(UTF_8)
  // String.split(regex) recompiles the pattern per call; the shared
  // compiled Pattern has identical split semantics (limit 0 — trailing
  // empties removed, leading empty kept and filtered below).
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private val Md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def hex32(digest: Array[Byte], out: Array[Char]): Unit = {
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(digest(i) & 0xf)
      i += 1
    }
  }

  /** Fold `hexBuf`'s 8-char slice for hash slot `j` into `mins` —
    * allocation only when a new minimum is found. */
  private def foldSlice(hexBuf: Array[Char], j: Int,
      mins: Array[String]): Unit = {
    val off = (j % 4) * 8
    val cur = mins(j)
    if (cur == null) { mins(j) = new String(hexBuf, off, 8); return }
    var i = 0
    while (i < 8) {
      val c = hexBuf(off + i) - cur.charAt(i)
      if (c < 0) { mins(j) = new String(hexBuf, off, 8); return }
      if (c > 0) return
      i += 1
    }
  }

  /** tokens(): split(trim(text), "\s+") with empties dropped — the
    * Java-regex split produces at most one extra leading/trailing
    * empty token, which the filter removes, so skipping the trim is
    * value-identical. Returns the reusable split buffer and the live
    * token count (shared with [[DistinctShingles]]). */
  private[expressions] def splitTokens(text: UTF8String)
      : (Array[String], Int) = {
    val toks = Ws.split(text.toString)
    var nToks = 0
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) { toks(nToks) = toks(t); nToks += 1 }
      t += 1
    }
    (toks, nToks)
  }

  def compute(text: UTF8String): ArrayData = {
    val (toks, nToks) = splitTokens(text)
    val mins = new Array[String](8)
    val hexBuf = new Array[Char](32)
    val md = Md.get()
    if (nToks >= 3) {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + 2 < nToks) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
          .append(' ').append(toks(i + 2))
        val sBytes = sb.toString.getBytes(UTF_8)
        md.reset(); md.update(sBytes)
        hex32(md.digest(), hexBuf)
        foldSlice(hexBuf, 0, mins); foldSlice(hexBuf, 1, mins)
        foldSlice(hexBuf, 2, mins); foldSlice(hexBuf, 3, mins)
        md.reset(); md.update(Seed); md.update(sBytes)
        hex32(md.digest(), hexBuf)
        foldSlice(hexBuf, 4, mins); foldSlice(hexBuf, 5, mins)
        foldSlice(hexBuf, 6, mins); foldSlice(hexBuf, 7, mins)
        i += 1
      }
    } else {
      // empty shingle set: the seed-only digest slices, so empty docs
      // collide with each other, never with real docs
      md.reset()
      hex32(md.digest(), hexBuf)
      foldSlice(hexBuf, 0, mins); foldSlice(hexBuf, 1, mins)
      foldSlice(hexBuf, 2, mins); foldSlice(hexBuf, 3, mins)
      md.reset(); md.update(Seed)
      hex32(md.digest(), hexBuf)
      foldSlice(hexBuf, 4, mins); foldSlice(hexBuf, 5, mins)
      foldSlice(hexBuf, 6, mins); foldSlice(hexBuf, 7, mins)
    }
    val out = new Array[Any](8)
    var j = 0
    while (j < 8) { out(j) = UTF8String.fromString(mins(j)); j += 1 }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression for the THIRD profile-proven hot path
  * (r19 VERDICT item 4): the distinct word-n-gram set of a document —
  * `array_distinct(shingles(tokens(text), n))`'s exact value. The
  * composed form pays sequence+transform+slice+concat_ws (one array
  * allocation per shingle position, then an O(k²)-ish array_distinct);
  * profiled at sf0.1 it is 2.43 s of the 2.60 s gram-generator scan
  * that txt_ngram_novelty runs TWICE (tokenize alone: 0.17 s). This
  * expression does split → rolling StringBuilder shingle → LinkedHashSet
  * dedup in one tight pass per row, preserving first-occurrence order
  * (array_distinct's order), so output is value-identical to the
  * composed form — parity property-pinned in MinhashSigSpec and by
  * every gram-family DuckDB oracle. */
case class DistinctShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"expects (string, n>=1), got (${child.dataType}, $n)")

  override protected def nullSafeEval(t: Any): Any =
    DistinctShingles.compute(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.DistinctShingles$$.MODULE$$.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression)
      : DistinctShingles = copy(child = newChild)
}

object DistinctShingles {
  def compute(text: UTF8String, n: Int): ArrayData = {
    val (toks, nToks) = MinhashSig.splitTokens(text)
    // shingles(): [] when fewer than n tokens (matches the composed
    // form's when(size >= n) branch exactly)
    if (nToks < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](
      math.min(nToks, 1024))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n - 1 < nToks) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = UTF8String.fromString(it.next()); k += 1
    }
    new GenericArrayData(out)
  }
}

/** Typed columns over the native text expressions (the
  * [[VectorExpressions.vecDot]] shape). */
object TextExpressions {
  def minhashSig(text: Column): Column =
    GraftColumns.column(MinhashSig(GraftColumns.expression(text)))

  def distinctShingles(text: Column, n: Int = 3): Column =
    GraftColumns.column(DistinctShingles(GraftColumns.expression(text), n))
}
