package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the STUB-raster perceptual-hash family (r13,
  * guide §1.2 step 2 / §4 "per-task work").
  *
  * The declarative spelling of `Multimodal.stubAHash` exploded every
  * document into one row PER CHARACTER (`posexplode(split(text, ""))`),
  * aggregated the (doc, cell) sums, ran a doc-keyed window for the
  * totals and a second doc-keyed aggregate for the bit pack — the char
  * explode alone made the *_ahash family the catalog's densest row
  * stream (JobAudit r13: video_ahash_pairs 33 task-sec,
  * media_dedup_incremental 12, multimodal_ahash_pairs 6 at sf0.1), and
  * the two keyed aggregates + window cost three exchanges per sketch.
  * The whole computation is a single left-to-right pass over one
  * document's code points with 2×cells longs of state, i.e. exactly the
  * per-row-kernel case the engine reserves native codegen expressions
  * for (§2.8 rule: zero UDFs; custom Expression only where profiled).
  *
  * Exactness: the kernel replays the declarative arithmetic bit for
  * bit — code-point values (`ascii` of each `split(text, "")` element
  * = the code point, and both `split` and `length` count code points),
  * cell index `i · cells div n` in long arithmetic, exact integer
  * cross-multiplied mean compare `s·tc > ts·c` — so results are
  * hash-identical to the old plan and the DuckDB oracles are untouched.
  * SuffixOpsSpec pins kernel == declarative spelling on fixture text.
  */
object RasterExprUtil {

  /** Per-cell (code-point sum, code-point count) over the 1-D stub
    * raster: cell of index i (0-based code point) is `i·cells div n`.
    */
  private def cellStats(s: UTF8String, cells: Int): (Array[Long], Array[Long], Long) = {
    val str = s.toString
    val chars = str.length
    val n = str.codePointCount(0, chars).toLong
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    var ci = 0
    var i = 0L
    while (ci < chars) {
      val cp = str.codePointAt(ci)
      val b = ((i * cells) / n).toInt
      sums(b) += cp
      cnts(b) += 1
      ci += Character.charCount(cp)
      i += 1
    }
    (sums, cnts, n)
  }

  /** aHash bit pack: bit b set iff s(b)·tc > ts·c(b); bits 0..31 in
    * `lo`, 32..63 (shifted) in `hi`. Empty input → (0, 0).
    */
  def ahashBits(s: UTF8String, cells: Int): InternalRow = {
    val (sums, cnts, _) = cellStats(s, cells)
    var ts = 0L
    var tc = 0L
    var b = 0
    while (b < cells) { ts += sums(b); tc += cnts(b); b += 1 }
    var lo = 0L
    var hi = 0L
    b = 0
    while (b < cells) {
      if (sums(b) * tc > ts * cnts(b)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lo, hi))
  }

  /** dHash bit pack over `cells` = 9·rows grid cells: for every adjacent
    * in-row pair (b, b+1) with BOTH cells populated, bit
    * (b div 9)·8 + b mod 9 is set iff s(b)·c(b+1) > s(b+1)·c(b) — the
    * exact twin of the declarative doc-keyed adjacent-cell self-join.
    * Returns NULL when NO in-row adjacent pair has both cells populated:
    * the declarative inner join emits zero rows for such a doc and the
    * doc vanishes from the grouped output, so the caller filters the
    * null sketches to reproduce that row set exactly.
    */
  def dhashBits(s: UTF8String, cells: Int): InternalRow = {
    val (sums, cnts, _) = cellStats(s, cells)
    var lo = 0L
    var hi = 0L
    var anyPair = false
    var b = 0
    while (b < cells - 1) {
      if (b % 9 < 8 && cnts(b) > 0 && cnts(b + 1) > 0) {
        anyPair = true
        if (sums(b) * cnts(b + 1) > sums(b + 1) * cnts(b)) {
          val bx = (b / 9) * 8 + b % 9
          if (bx < 32) lo |= 1L << bx else hi |= 1L << (bx - 32)
        }
      }
      b += 1
    }
    if (!anyPair) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lo, hi))
  }
}

abstract class RasterBitsBase extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))
}

/** `stub_ahash_bits(text) -> struct(lo, hi)` — see [[RasterExprUtil]]. */
case class StubAHashBits(child: Expression, cells: Int)
    extends RasterBitsBase {
  override def prettyName: String = "stub_ahash_bits"
  override def nullSafeEval(input: Any): Any =
    RasterExprUtil.ahashBits(input.asInstanceOf[UTF8String], cells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RasterExprUtil.ahashBits($c, $cells);")
  override protected def withNewChildInternal(newChild: Expression): StubAHashBits =
    copy(child = newChild)
}

/** `stub_dhash_bits(text) -> struct(lo, hi)` — see [[RasterExprUtil]];
  * null when the doc populates no in-row adjacent cell pair.
  */
case class StubDHashBits(child: Expression, cells: Int)
    extends RasterBitsBase {
  override def nullable: Boolean = true
  override def prettyName: String = "stub_dhash_bits"
  override def nullSafeEval(input: Any): Any =
    RasterExprUtil.dhashBits(input.asInstanceOf[UTF8String], cells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RasterExprUtil.dhashBits($c, $cells);")
  override protected def withNewChildInternal(newChild: Expression): StubDHashBits =
    copy(child = newChild)
}

object RasterExpressions {
  def stub_ahash_bits(c: Column, cells: Int = 64): Column =
    Bridge.column(StubAHashBits(Bridge.expression(c), cells))
  def stub_dhash_bits(c: Column, cells: Int = 72): Column =
    Bridge.column(StubDHashBits(Bridge.expression(c), cells))
}
