package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Reference kernel for the character-histogram prune: the exact
  * (unsaturated) L1 distance between two strings' histograms,
  * computed from the strings. PropertySpec checks the packed kernels
  * below against it.
  */
object CharHist {
  /** L1 distance between the two strings' character histograms,
    * binned by UTF-8 LEADING byte (continuation bytes 10xxxxxx are
    * skipped), so every code point lands in exactly one bin for any
    * UTF-8 input. */
  def l1(a: UTF8String, b: UTF8String): Int = {
    val h = new Array[Int](256)
    val na = a.numBytes
    var i = 0
    while (i < na) {
      val x = a.getByte(i) & 0xff
      if ((x & 0xc0) != 0x80) h(x) += 1
      i += 1
    }
    val nb = b.numBytes
    i = 0
    while (i < nb) {
      val x = b.getByte(i) & 0xff
      if ((x & 0xc0) != 0x80) h(x) -= 1
      i += 1
    }
    var s = 0
    i = 0
    while (i < 256) {
      val v = h(i)
      s += (if (v < 0) -v else v)
      i += 1
    }
    s
  }
}

/** Kernels for the PRECOMPUTED character-histogram prune.
  *
  * The L1 distance between two strings' character histograms is a
  * cheap LOWER BOUND on twice their edit distance: one substitution
  * moves one code point between two bins (L1 contribution ≤ 2), one
  * insert/delete touches one bin (contribution 1), so
  * `l1(a,b) ≤ 2·levenshtein(a,b)` for ANY UTF-8 input (leading-byte
  * binning gives each code point exactly one bin; bin collisions only
  * shrink the L1, keeping the bound valid). Filtering candidate pairs
  * at `l1 ≤ 2·maxDist` is therefore lossless.
  *
  * Computing both histograms PER PAIR costs O(|a|+|b|) inside the
  * join condition, which multiplies by the blocked join's
  * candidate-pair count: the k=30 scaling run measured
  * q_dedup_editdist_e2e SUPERLINEAR (37.7× cost at 30× rows) with the
  * per-pair string walks as the dominant term (bin populations sit
  * below the BandGuard cap, so pairs grow quadratically within bins
  * while each pair re-walked ~2 KB of text). The fix is standard
  * similarity-join practice: histogram once per ROW (O(len), row
  * scale), compare packed vectors per PAIR (O(256), length-
  * INDEPENDENT — at 100 TB a pair of 100 KB documents prunes as fast
  * as a pair of tweets).
  *
  * Layout: 256 saturating big-endian UInt16 counts (512 B), binned by
  * UTF-8 leading byte exactly as [[CharHist.l1]]. Saturation keeps
  * the bound LOSSLESS: clamping is a 1-Lipschitz contraction, so
  * |min(ca,S) − min(cb,S)| ≤ |ca − cb| bin-wise and the packed L1
  * only ever UNDER-estimates the true histogram L1 — still a valid
  * lower bound on 2·levenshtein (PropertySpec asserts equality with
  * CharHist.l1 away from saturation and the ≤ relation always).
  */
object CharHistKernels {

  /** 256 saturating UInt16 leading-byte counts. */
  def pack(s: UTF8String): Array[Byte] = {
    val h = new Array[Int](256)
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val x = s.getByte(i) & 0xff
      if ((x & 0xc0) != 0x80) h(x) += 1
      i += 1
    }
    val out = new Array[Byte](512)
    i = 0
    while (i < 256) {
      val v = if (h(i) > 0xffff) 0xffff else h(i)
      out(2 * i) = (v >>> 8).toByte
      out(2 * i + 1) = v.toByte
      i += 1
    }
    out
  }

  /** L1 distance between two packed histograms. */
  def l1(a: Array[Byte], b: Array[Byte]): Int = {
    var s = 0
    var i = 0
    while (i < 512) {
      val va = ((a(i) & 0xff) << 8) | (a(i + 1) & 0xff)
      val vb = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
      s += (if (va > vb) va - vb else vb - va)
      i += 2
    }
    s
  }
}

/** string → packed 512-byte histogram (compute once per row). */
case class CharHistPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def prettyName: String = "char_hist_pack"

  override def nullSafeEval(s: Any): Any =
    CharHistKernels.pack(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.CharHistKernels.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): CharHistPack =
    copy(child = newChild)
}

/** packed × packed → L1 (compare per pair, O(256)). */
case class PackedHistL1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "packed_hist_l1"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    CharHistKernels.l1(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.CharHistKernels.l1($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedHistL1 =
    copy(left = newLeft, right = newRight)
}

object CharHistPack {
  def pack(c: Column): Column = Bridge.column(CharHistPack(Bridge.expression(c)))
  def packedL1(a: Column, b: Column): Column =
    Bridge.column(PackedHistL1(Bridge.expression(a), Bridge.expression(b)))
}
