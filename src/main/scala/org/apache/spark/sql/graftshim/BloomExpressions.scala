package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Whole-document Bloom-filter probe expressions for the streaming
 * benchmark-exclusion stage
 * (`graft.streaming.StreamingCurationJobs.decontaminateExclude` —
 * reference `flink/flink_job.sql` has no curation stage; this is the
 * LLM-pipeline extension surface).
 *
 * The composed-Column form of the candidate predicate —
 * `exists(shingles, s => forall(array(pos_0(s)..pos_{k-1}(s)), getbit))`
 * — evaluates as INTERPRETED higher-order functions: per document,
 * ~shingles × k lambda frames, boxed position arrays, and an
 * `element_at` on a 1024-long bitmap literal per probe. That loop was
 * the measured curation-ingest wall (BASELINE.md r13: the single
 * candidate evaluation alone fell behind at 16k docs/s while decode,
 * shingling, dedup and the gate each kept pace). Here the whole probe
 * is ONE codegen'd call into a static helper over a primitive long[]
 * bitmap — no allocation, short-circuiting both loops.
 *
 * Hashing is XXH64 over the shingle's UTF-8 bytes with the probe index
 * as the seed — shared byte-for-byte by [[BloomPositions]] (the bitmap
 * BUILD side) and [[BloomShingleHit]] (the probe side), which is the
 * only property Bloom correctness needs (no false negatives under any
 * hash family as long as both sides agree; membership is decided by
 * the exact anti join downstream, so the hash choice never changes
 * output values — only the false-positive traffic mix).
 */
object BloomExpressions {
  /** Loud contract check for the PUBLIC (Column + SQL) surface: a
    * non-positive bit width or probe count would otherwise surface as
    * floorMod-by-zero / negative positions / a vacuous all-hit
    * conjunction (r13 review findings). */
  private def checkArgs(k: Int, m: Int): Unit = {
    if (k <= 0) throw new IllegalArgumentException(
      s"bloom kHashes must be positive, got $k")
    if (m <= 0) throw new IllegalArgumentException(
      s"bloom mBits must be positive, got $m")
  }

  /** Bloom position of `s` for probe `i` in a bitmap of `m` bits. */
  def position(s: UTF8String, i: Int, m: Int): Long = {
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes, i.toLong)
    java.lang.Math.floorMod(h, m.toLong)
  }

  /** The k checked positions of one shingle — shared by the build
    * expression's eval AND generated code (one call, tiny bytecode). */
  def positions(s: UTF8String, k: Int, m: Int): Array[Long] = {
    checkArgs(k, m)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = position(s, i, m); i += 1 }
    out
  }

  /** True iff ANY non-null shingle has ALL `k` probe bits set in
    * `words` (m = words.length · 64). Called from generated code — the
    * generated method stays a few bytecodes however large k or the
    * bitmap are. */
  def hit(shingles: ArrayData, words: Array[Long], k: Int): Boolean = {
    // empty bitmap = no bits set = no possible hit — NOT floorMod by
    // zero (the callers always build a non-empty bitmap, but the
    // Column API is public; r13 review finding); k is checked loudly —
    // k <= 0 would make the forall-conjunction vacuously TRUE for
    // every document
    if (k <= 0) throw new IllegalArgumentException(
      s"bloom kHashes must be positive, got $k")
    if (words.length == 0) return false
    val m = words.length * 64
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j)
        var i = 0
        var all = true
        while (all && i < k) {
          val p = position(s, i, m)
          if (((words((p >>> 6).toInt) >>> (p & 63L).toInt) & 1L) == 0L)
            all = false
          i += 1
        }
        if (all) return true
      }
      j += 1
    }
    false
  }
}

/**
 * The k Bloom positions of one shingle — the bitmap BUILD side's
 * position source, sharing [[BloomExpressions.position]] with the
 * probe expression so both sides hash identically. Null shingle →
 * null. Output array<long>, each in [0, mBits).
 */
case class BloomPositions(shingle: Expression, kHashes: Expression,
                          mBits: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = shingle
  override def second: Expression = kHashes
  override def third: Expression = mBits

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, IntegerType, IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_bloom_positions"

  override protected def nullSafeEval(s: Any, k: Any, m: Any): Any =
    new GenericArrayData(BloomExpressions.positions(
      s.asInstanceOf[UTF8String], k.asInstanceOf[Int], m.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k, m) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  org.apache.spark.sql.graftshim.BloomExpressions.positions($s, $k, $m));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(shingle = newFirst, kHashes = newSecond, mBits = newThird)
}

/**
 * Whole-document Bloom candidate probe: true iff any shingle of the
 * document has all `kHashes` probe bits set in the `bitmap` literal
 * (array<long>, unboxed ONCE into a primitive long[] reference object —
 * the [[PqExpressions.toMatrix]] contract). Null shingle array → null
 * (a null-text document stays out of both exclusion branches, exactly
 * like the composed `exists` form it replaces); null ELEMENTS are
 * skipped (the shingle builder never produces them).
 */
case class BloomShingleHit(shingles: Expression, bitmap: Expression,
                           kHashes: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = shingles
  override def second: Expression = bitmap
  override def third: Expression = kHashes

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(LongType), IntegerType)

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_bloom_hit"

  @transient private lazy val words: Array[Long] = {
    require(bitmap.foldable,
      "Bloom bitmap child must be a literal (foldable) expression")
    val ad = bitmap.eval(null).asInstanceOf[ArrayData]
    if (ad == null) Array.empty else ad.toLongArray()
  }

  override protected def nullSafeEval(sh: Any, bm: Any, k: Any): Any =
    BloomExpressions.hit(sh.asInstanceOf[ArrayData], words,
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, bm, k) => {
      val w = ctx.addReferenceObj("bloomWords", words, "long[]")
      s"""
         |${ev.value} = org.apache.spark.sql.graftshim.BloomExpressions
         |  .hit($sh, $w, $k);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(shingles = newFirst, bitmap = newSecond, kHashes = newThird)
}
