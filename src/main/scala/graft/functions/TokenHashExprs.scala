package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-side signature expressions for the dedup family: simhash and minhash
  * signatures computed in ONE primitive loop per document, straight off the
  * token/shingle array.
  *
  * The shapes they replace exploded the array to rows and folded a WIDE
  * aggregate over the exploded set (64 conditional sums for simhash, n min
  * columns for minhash) — materializing ~tokens-per-doc rows per document
  * and paying a full groupBy(id) exchange just to reassemble per-document
  * values that never needed to leave the row. (The r2-era array-lambda
  * spellings were rejected for re-evaluating the interpreted hash per
  * permutation — a dedicated expression has neither problem: each element
  * is digested exactly once, the fold is a tight JVM loop, and the scan
  * pipeline needs no shuffle at all.)
  *
  * Semantics are pinned against the exploded aggregates (asserted in
  * TokenHashExprsSpec and by the oracle gate):
  *  - null ARRAY → null result (explode dropped the row; callers filter
  *    `isNotNull` to reproduce the drop).
  *  - EMPTY array → null result (explode of an empty array dropped the row
  *    too).
  *  - null ELEMENTS are skipped, exactly as the old `sum`/`min` aggregates
  *    ignored the null hash a null token produced; an all-null array yields
  *    the aggregate-over-nothing value (simhash 0 — every vote null→0 bit;
  *    minhash: array of nulls).
  */
object TokenHashExprs {
  /** 64-bit simhash of a token array: per token one md5 digest (the same
    * first-8-bytes value TextFunctions.md5First8 pins), ±1 votes per bit,
    * sign bits assembled exactly like SimilarityFunctions.simhash64 —
    * bit b (0-31) votes from hex chars 1-8 (= digest bits 32+b), bits 32-63
    * from hex chars 9-16 (= digest bits b-32). */
  def simhash64(toks: ArrayData): Any = {
    val n = toks.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var seen = false
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        seen = true
        val h = Md5Hashing.first8(toks.getUTF8String(i))
        // hlo = h >>> 32 votes bits 0..31; hhi = h & 0xFFFFFFFF votes 32..63
        var b = 0
        while (b < 32) {
          votes(b) += (((h >>> (32 + b)) & 1L) * 2L - 1L).toInt
          votes(32 + b) += (((h >>> b) & 1L) * 2L - 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    // all-null array: votes all 0 — every `when(v > 0)` was null→otherwise 0
    // in the aggregate spelling, and 0 > 0 is false here: same 0L result
    if (!seen) return 0L
    var lo = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) lo |= (1L << b); b += 1 }
    var hi = 0L
    b = 0
    while (b < 31) { if (votes(32 + b) > 0) hi |= (1L << (32 + b)); b += 1 }
    val sign = if (votes(63) > 0) Long.MinValue else 0L
    lo + hi + sign
  }

  /** MinHash signature: n minima of (a_i * h + b_i) % MinHashP over the
    * 32-bit element hashes (h = md5 first 8 hex chars), coefficient family
    * identical to SimilarityFunctions.minhashCoef. Returns null for a null
    * or empty array; an element slot stays null when no non-null element
    * contributed (the aggregate-min-over-nothing value). */
  def minhashSig(shingles: ArrayData, sigLen: Int): Any = {
    val n = shingles.numElements()
    if (n == 0) return null
    val mins = new Array[Long](sigLen)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // minhashCoef(j): a = 1000003*(j+1) % 2147483647, b = 7919*(j+1) % P
    val a = Array.tabulate(sigLen)(j => (1000003L * (j + 1)) % 2147483647L)
    val bb = Array.tabulate(sigLen)(j => (7919L * (j + 1)) % SimilarityFunctions.MinHashP)
    var seen = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val h = Md5Hashing.first8(shingles.getUTF8String(i)) >>> 32
        var j = 0
        while (j < sigLen) {
          val v = (a(j) * h + bb(j)) % SimilarityFunctions.MinHashP
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](sigLen)
    if (seen) { var j = 0; while (j < sigLen) { out(j) = mins(j); j += 1 } }
    new GenericArrayData(out)
  }
}

case class Simhash64Expr(child: Expression) extends UnaryExpression {
  require(!child.resolved || (child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }), "simhash64_row expects array<string>")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TokenHashExprs.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.TokenHashExprs.simhash64($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $r).longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash64_row"
}

case class MinhashSigExpr(child: Expression, sigLen: Int) extends UnaryExpression {
  require(sigLen > 0, "minhash_sig_row needs sigLen > 0")
  require(!child.resolved || (child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }), "minhash_sig_row expects array<string>")
  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TokenHashExprs.minhashSig(v.asInstanceOf[ArrayData], sigLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.TokenHashExprs.minhashSig($c, $sigLen);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig_row"
}
