package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native implementations of the engine's portable 32-bit hash:
  * `hash32(s)` = first 4 bytes of md5(s) as an unsigned big-endian int —
  * definitionally identical to `conv(substr(md5(s),1,8),16,10)` (and to
  * DuckDB's `('0x'||substr(md5(s),1,8))::BIGINT`), but computed without
  * the 32-char hex string, the substring, or the base-16 re-parse that the
  * composed form allocates per call.
  *
  * Why it matters: the hash is evaluated once per TOKEN across the whole
  * dedup/text family (minhash signatures, shingle hashing, Jaccard hash
  * sets, fingerprints) — at 100 TB that is the single hottest scalar in
  * the engine. The composed form costs ~4 allocations per call; this one
  * costs a digest over a reused [[MessageDigest]] instance.
  */
object Md5Hash32Util {
  // MessageDigest is stateful; expressions are deserialized per task but
  // interpreted HOF lambdas may share an instance across partitions of the
  // same thread pool — ThreadLocal keeps reuse safe either way.
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Full 16-byte md5 digest of the UTF-8 encoding. */
  def hash8(s: UTF8String): Array[Byte] = md.get().digest(s.getBytes)

  /** First 4 md5 bytes of the UTF-8 encoding, as unsigned big-endian —
    * the codegen entry point (generated Java calls this compiled pack
    * rather than inlining the shift chain; see Md5Hash32.doGenCode).
    */
  def hash(s: UTF8String): Long = {
    val d = hash8(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** One-pass SimHash-32 over an array<long> of token hashes; null when
    * any element is null (boxed so generated code gets the null signal
    * without an out-param).
    */
  def simhash32(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val ones = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val h = arr.getLong(i)
      var j = 0
      while (j < 32) { ones(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    var sk = 0L
    var j = 0
    // sign of the +-1 bit sum: sum_j = 2*ones[j] - n >= 0
    while (j < 32) { if (2 * ones(j) >= n) sk |= (1L << j); j += 1 }
    sk
  }

  /** One-pass Horner-rolling word-n-shingle combination over an
    * array<long> of token hashes: out[i] = fold over window [i, i+n) of
    * acc = (acc*a + h) mod p (positive mod, matching pmod). Documents
    * shorter than n words return their token hashes unchanged (the
    * declarative fallback). A null element nulls every window containing
    * it, exactly as the transform/element_at spelling does.
    */
  def shingleHashes(arr: ArrayData, n: Int, a: Long, p: Long): ArrayData = {
    val len = arr.numElements()
    if (len < n) {
      val vals = new Array[Long](len)
      val nulls = new Array[Boolean](len)
      var i = 0
      while (i < len) {
        if (arr.isNullAt(i)) nulls(i) = true else vals(i) = arr.getLong(i)
        i += 1
      }
      return arrayOf(vals, nulls)
    }
    val m = len - n + 1
    val vals = new Array[Long](m)
    val nulls = new Array[Boolean](m)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) nulls(i) = true
      else {
        var acc = arr.getLong(i)
        var o = 1
        while (o < n && !nulls(i)) {
          if (arr.isNullAt(i + o)) nulls(i) = true
          else acc = java.lang.Math.floorMod(acc * a + arr.getLong(i + o), p)
          o += 1
        }
        vals(i) = acc
      }
      i += 1
    }
    arrayOf(vals, nulls)
  }

  /** One-pass MinHash signature: k affine-permutation minima
    * (min over elements h of (a_j*h + b_j) mod p, a_j = aBase + aStep*j,
    * b_j = bBase + bStep*j) computed in a single traversal. Null elements
    * are skipped (array_min semantics); an array with no non-null
    * elements yields a null signature.
    */
  def minhashSigs(arr: ArrayData, k: Int, aBase: Long, aStep: Long,
      bBase: Long, bStep: Long, p: Long): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = java.lang.Math.floorMod((aBase + aStep * j) * h + (bBase + bStep * j), p)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!seen) new GenericArrayData(new Array[Any](k))
    else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Polynomial rolling hash over an array<long>: acc = (acc*mult + h)
    * mod m, left-to-right. Null when any element is null (the aggregate
    * fold's semantics: a null element nulls the accumulator for good).
    */
  def rollingHash(arr: ArrayData, mult: Long, m: Long): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc = java.lang.Math.floorMod(acc * mult + arr.getLong(i), m)
      i += 1
    }
    acc
  }

  /** ArrayData constructor for generated code: primitive (UnsafeArrayData)
    * when null-free, generic otherwise.
    */
  def arrayOf(vals: Array[Long], nulls: Array[Boolean]): ArrayData = {
    var hasNull = false
    var i = 0
    while (i < nulls.length && !hasNull) { hasNull = nulls(i); i += 1 }
    if (!hasNull) UnsafeArrayData.fromPrimitiveArray(vals)
    else {
      val out = new Array[Any](vals.length)
      var j = 0
      while (j < vals.length) { if (!nulls(j)) out(j) = vals(j); j += 1 }
      new GenericArrayData(out)
    }
  }
}

/** `md5_hash32(string) -> bigint` — scalar portable hash. */
case class Md5Hash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash32"

  override def nullSafeEval(input: Any): Any =
    Md5Hash32Util.hash(input.asInstanceOf[UTF8String])

  // The packing stays in compiled Scala (Md5Hash32Util.hash): inlining the
  // shift-OR chain into generated Java trips Janino's cast/parenthesized-
  // expression ambiguity ("(digest[1] & 0xff) << 16 is not a type"), which
  // silently drops the WHOLE stage back to interpreted execution.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Hash32Util.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash32 =
    copy(child = newChild)
}

/** `md5_hash32_array(array<string>) -> array<bigint>` — the per-token map
  * as ONE codegen-friendly expression. The equivalent
  * `transform(arr, t -> md5_hash32(t))` routes through `ArrayTransform`,
  * which is CodegenFallback: the lambda is interpreted per element and the
  * whole projection drops out of whole-stage codegen. This expression
  * keeps the loop primitive and the stage fused — on the minhash pipeline
  * the map runs over every token of every document, so the dispatch
  * overhead is corpus-sized. Null elements map to null (as transform
  * does).
  */
case class Md5Hash32Array(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "md5_hash32_array"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = Md5Hash32Util.hash(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  // Same Janino-ambiguity avoidance as Md5Hash32: the per-element pack is
  // a compiled static call, only the loop shape lives in generated Java.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val vals = ctx.freshName("vals")
      val nulls = ctx.freshName("nulls")
      s"""
         |int $n = $c.numElements();
         |long[] $vals = new long[$n];
         |boolean[] $nulls = new boolean[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) { $nulls[$i] = true; } else {
         |    $vals[$i] = graft.functions.Md5Hash32Util.hash($c.getUTF8String($i));
         |  }
         |}
         |${ev.value} = graft.functions.Md5Hash32Util.arrayOf($vals, $nulls);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Hash32Array =
    copy(child = newChild)
}

/** `simhash32(array<bigint>) -> bigint` — the 32-bit SimHash sketch over
  * pre-hashed tokens in ONE pass. The declarative form (the twin
  * VectorExpressionsSpec compares against) evaluates 32 separate
  * `aggregate` HOFs — 32 interpreted passes over the hash array per
  * document, each lambda re-dispatched per element. This expression
  * counts all 32 bit positions in a single primitive loop (bit j of the
  * sketch is set iff ones[j] makes the +-1 sum non-negative, i.e.
  * 2*ones[j] >= n) and stays inside whole-stage codegen. Result is
  * bit-identical to the declarative form for null-free input (proved in
  * VectorExpressionsSpec); a null element yields a null sketch.
  */
case class Simhash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any =
    Md5Hash32Util.simhash32(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("sk")
      s"""
         |java.lang.Long $r = graft.functions.Md5Hash32Util.simhash32($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

/** `shingle_hashes(array<bigint>) -> array<bigint>` — the Horner-rolling
  * word-n-shingle combination in ONE primitive loop. The declarative form
  * (VectorExpressionsSpec's twin: `transform(sequence(...), i ->
  * fold(element_at...))`) routes through two CodegenFallback HOFs with
  * per-element interpreted lambda dispatch AND allocates the index
  * sequence per row; this expression reads the window directly and stays
  * inside whole-stage codegen. The shingle staging feeds every consumer
  * of the near-dup family (minhash signatures, LSH pairs, Jaccard
  * verification, decontamination, boilerplate, the corpus pipeline), so
  * its per-row cost is corpus-sized. Bit-identical to the declarative
  * form including the <n-token fallback and null-window propagation
  * (proved in VectorExpressionsSpec).
  */
case class ShingleHashes(child: Expression, n: Int, a: Long, p: Long)
    extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    Md5Hash32Util.shingleHashes(input.asInstanceOf[ArrayData], n, a, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Hash32Util.shingleHashes($c, $n, ${a}L, ${p}L);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `minhash_sigs(array<bigint>) -> array<bigint>` — all k MinHash
  * signature components in ONE traversal of the shingle-hash array. The
  * declarative form evaluates k separate `array_min(transform(...))`
  * pairs — 2k interpreted HOF passes per document. Null elements are
  * skipped exactly as array_min does; a document with no non-null hashes
  * gets a null signature vector. Bit-identical to the declarative form
  * (proved in VectorExpressionsSpec).
  */
case class MinhashSigs(child: Expression, k: Int, aBase: Long, aStep: Long,
    bBase: Long, bStep: Long, p: Long) extends UnaryExpression {
  require(k >= 1, s"signature width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any =
    Md5Hash32Util.minhashSigs(input.asInstanceOf[ArrayData], k,
      aBase, aStep, bBase, bStep, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.Md5Hash32Util.minhashSigs(
         |  $c, $k, ${aBase}L, ${aStep}L, ${bBase}L, ${bStep}L, ${p}L);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

/** `rolling_hash(array<bigint>) -> bigint` — the order-sensitive document
  * fingerprint fold in one primitive loop (the `aggregate` HOF spelling is
  * interpreted per element). Null if any element is null, matching the
  * fold's accumulator poisoning. Bit-identical to the declarative form
  * (proved in VectorExpressionsSpec).
  */
case class RollingHash(child: Expression, mult: Long, m: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    Md5Hash32Util.rollingHash(input.asInstanceOf[ArrayData], mult, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("rh")
      s"""
         |java.lang.Long $r = graft.functions.Md5Hash32Util.rollingHash($c, ${mult}L, ${m}L);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object HashExpressions {

  /** Column API: portable 32-bit hash of a string column. */
  def md5_hash32(c: Column): Column = Bridge.column(Md5Hash32(Bridge.expression(c)))

  /** Column API: element-wise portable hash of an array<string> column. */
  def md5_hash32_array(c: Column): Column =
    Bridge.column(Md5Hash32Array(Bridge.expression(c)))

  /** Column API: one-pass SimHash-32 sketch of an array<bigint> column. */
  def simhash32(c: Column): Column = Bridge.column(Simhash32(Bridge.expression(c)))

  /** Column API: one-pass Horner word-n-shingle combination over an
    * array<bigint> of token hashes.
    */
  def shingle_hashes(c: Column, n: Int, a: Long, p: Long): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), n, a, p))

  /** Column API: polynomial rolling hash of an array<bigint> column. */
  def rolling_hash(c: Column, mult: Long, m: Long): Column =
    Bridge.column(RollingHash(Bridge.expression(c), mult, m))

  /** Column API: all k MinHash signature minima in one pass. */
  def minhash_sigs(c: Column, k: Int, aBase: Long, aStep: Long,
      bBase: Long, bStep: Long, p: Long): Column =
    Bridge.column(MinhashSigs(Bridge.expression(c), k, aBase, aStep, bBase, bStep, p))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("md5_hash32"),
      new ExpressionInfo(classOf[Md5Hash32].getName, "md5_hash32"),
      (exprs: Seq[Expression]) => Md5Hash32(exprs.head)),
    (FunctionIdentifier("md5_hash32_array"),
      new ExpressionInfo(classOf[Md5Hash32Array].getName, "md5_hash32_array"),
      (exprs: Seq[Expression]) => Md5Hash32Array(exprs.head)),
    (FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[Simhash32].getName, "simhash32"),
      (exprs: Seq[Expression]) => Simhash32(exprs.head)))
}
