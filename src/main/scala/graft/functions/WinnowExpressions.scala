package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Schwarzik & Aiken,
  * SIGMOD'03) as a native expression: `winnow_keys(s, k, w)` returns
  * the distinct selected keys `md5hex(gram) || zeropad8(1e8 - pos)`
  * for every W-gram window's minimum key over the K-char grams of s
  * (rightmost-on-tie — "robust winnowing" — falls out of the position
  * encoding: equal hashes order by the larger position first).
  *
  * Native because the HOF composition (`transform` over window starts
  * with an inner `transform` computing the W keys) evaluates
  * interpreted — per-element expression-tree dispatch measured 45 s
  * over 5k docs where this one-JVM-loop-per-row expression runs in
  * ~1 s. The loop is the classic monotonic-deque sliding minimum:
  * O(G) digests + O(G) deque ops per doc, no G-sized key array
  * rescans. Key strings are ASCII (hex + digits), so JVM string
  * order == UTF8 binary order == DuckDB byte order — the selection is
  * cross-engine exact (md5 is the one hash both engines share).
  *
  * Positions count UTF-16 code units:
  * exact for the BMP; astral-plane characters would shift gram
  * boundaries by one vs a code-point engine. The DuckDB dual agrees
  * on BMP text, which is the entire gate corpus.
  */
case class WinnowKeys(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_keys requires string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    WinnowExpressions.winnowKeys(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WinnowExpressions.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = $helper.winnowKeys($s, $k, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExpressions {
  /** Column-API entry point. */
  def winnow_keys(s: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowKeys(ColumnBridge.expression(s), k, w))

  private val HEX = "0123456789abcdef".toCharArray

  /** One pass per row (called from generated code). Documents shorter
    * than k+w-1 chars have no complete window and return an empty
    * array. Position encoding supports doc lengths to 1e8 chars.
    */
  def winnowKeys(us: UTF8String, k: Int, w: Int): ArrayData = {
    val s = us.toString
    val g = s.length - k + 1
    if (g < w) return new GenericArrayData(Array.empty[Any])
    // the position suffix encodes (100000000 - p) as 8 zero-padded
    // digits so lexicographic key order breaks digest ties by LATEST
    // position and Clean.winnowFingerprints can decode the position
    // with substring(key,33,8). Past 1e8-1 grams the suffix goes
    // negative/9-wide and both properties silently corrupt — fail
    // loudly at the documented limit instead
    if (g >= 100000000)
      throw new IllegalArgumentException(
        s"winnow_keys supports documents up to 1e8 grams; got $g " +
          s"(doc length ${s.length}, k=$k)")
    val md = MessageDigest.getInstance("MD5")
    // 1-based keys; built once, O(G) digests
    val keys = new Array[String](g + 1)
    var p = 1
    while (p <= g) {
      val dig = md.digest(
        s.substring(p - 1, p - 1 + k).getBytes(StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(40)
      var b = 0
      while (b < 16) {
        sb.append(HEX((dig(b) >> 4) & 0xf)).append(HEX(dig(b) & 0xf))
        b += 1
      }
      val suffix = Integer.toString(100000000 - p)
      var z = suffix.length
      while (z < 8) { sb.append('0'); z += 1 }
      sb.append(suffix)
      keys(p) = sb.toString
      p += 1
    }
    // monotonic-deque sliding minimum over windows [i-w+1, i]; keys
    // are unique (position suffix), so comparisons are strict
    val sel = new java.util.LinkedHashSet[String]()
    val deque = new java.util.ArrayDeque[Int]()
    var i = 1
    while (i <= g) {
      while (!deque.isEmpty && keys(deque.peekLast) >= keys(i))
        deque.pollLast()
      deque.addLast(i)
      if (i >= w) {
        while (deque.peekFirst < i - w + 1) deque.pollFirst()
        sel.add(keys(deque.peekFirst))
      }
      i += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }
}
