package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round-15 native shingle kernels. Every LSH/minhash query pays a
  * single-task word-shingle pass per corpus scan, and the HOF spelling
  * (`transform(sequence(...), i => concat_ws(" ", slice(toks, i+1, n)))`
  * + `array_distinct`) is interpreted per SHINGLE with a fresh slice
  * array and string build per element — 0.55–0.9 s of the 2.1 s q22
  * warm pass at sf0.1 (ProbeJobs stage 25). Over NORMALIZED text
  * (single spaces, trimmed — [[graft.functions.TextFns.normText]]),
  * every shingle is a contiguous SUBSTRING of the input (tokens joined
  * by one space are exactly the bytes from the first token's start to
  * the last token's end), so the kernel emits byte-range slices with no
  * string assembly at all. Value-identical to the HOF spelling —
  * distinct with first-occurrence order, the ≤ n-token whole-text
  * singleton, the empty-text [""] floor — pinned in ShingleExprsSpec.
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (normalized text), got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShinglesExpr.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordShinglesExpr.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShinglesExpr {
  /** See [[WordShinglesExpr]]. Called from codegen. */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token start offsets (normalized text: single 0x20 separators, no
    // leading/trailing space). tokStart(i) .. tokEnd(i) = token i's bytes.
    var m = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' ') m += 1; i += 1 }
    val nTok = if (len == 0) 0 else m + 1
    if (nTok <= n) return new GenericArrayData(Array[Any](s)) // whole text (or "" floor)
    val starts = new Array[Int](nTok)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    // gram i = bytes[starts(i), end(i + n - 1)) — end(j) = starts(j+1)-1
    // (or len for the last token)
    val nGram = nTok - (n - 1)
    val seen = new java.util.LinkedHashSet[UTF8String](nGram * 2)
    i = 0
    while (i < nGram) {
      val a = starts(i)
      val b = if (i + n == nTok) len else starts(i + n) - 1
      seen.add(UTF8String.fromBytes(bytes, a, b - a))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Column-API entry point: input must be NORMALIZED text. */
  def apply(c: Column, n: Int): Column =
    Bridge.column(WordShinglesExpr(Bridge.expression(c), n))
}

/** `transform(arr, x => portableHash(x) [% mod])` in one compiled pass —
  * the base-hash map feeding [[MinhashSigExpr]] and the simhash bit
  * votes. `mod <= 0` means no modulus. Null elements are not expected
  * (shingle arrays are non-null) but null-propagate per element like the
  * HOF spelling would. */
case class Hash60MapExpr(child: Expression, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  override def prettyName: String = "graft_hash60_map"

  override def nullSafeEval(input: Any): Any =
    Hash60MapExpr.hashes(input.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Hash60MapExpr.hashes($c, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash60MapExpr {
  /** See [[Hash60MapExpr]]. Called from codegen through the class's
    * static forwarder, which Scala omits for a name the case class also
    * inherits (`TreeNode.map`): keep this name off TreeNode's members. */
  def hashes(arr: ArrayData, mod: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = PortableHash60.hash(arr.getUTF8String(i))
        out(i) = if (mod > 0) h % mod else h
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, mod: Long): Column =
    Bridge.column(Hash60MapExpr(Bridge.expression(c), mod))
}
