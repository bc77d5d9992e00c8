package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the BPE vocabulary pipeline's symbol
 * lattice — the r22 sweep of the interpreted higher-order functions the
 * r21 ShingleExpressions pass deliberately left on "bounded grain"
 * (vocabulary-sized frames): the merge-application fold alone nests one
 * ~20-node CodegenFallback `aggregate` PER MERGE into the symbol
 * column, so an 8-merge dictionary walks 8 lambda interpreters over
 * every word, and the per-round training recount re-interprets a
 * `transform` + struct lattice over every adjacent pair. Each class
 * here generates straight-line loop code inside whole-stage codegen and
 * is value-identical to the HOF form it replaces (pinned in
 * TextOpsShimSpec; the kept HOF baselines live in TextAnalysis as
 * `charSymsHof` / `applyMergeColHof` / `adjacentPairsHof`), so the
 * sequential-unrolled DuckDB oracles are untouched.
 */

/**
 * All codepoint n-grams of a string, one per start position — the
 * codegen'd form of `when(length(c) >= n, transform(sequence(1,
 * length(c) - n + 1), i => c.substr(i, lit(n)))).otherwise(empty)`.
 * n = 1 is the BPE initial symbol split ([[CharTrigrams]] is the n = 3
 * specialization, kept as-is for its language-ID users); n = 2 is the
 * merge-candidate pair extractor. Fewer than n codepoints (or NULL)
 * yields an EMPTY array. Byte offsets of each codepoint are computed in
 * ONE pass, so extraction is O(bytes), not O(chars) interpreted
 * `substr` scans per element.
 */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"ngram width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_char_ngrams"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.EMPTY
    else CharNgrams.ngrams(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val shCls = "org.apache.spark.sql.graftshim.WordShingles"
    val cls = "org.apache.spark.sql.graftshim.CharNgrams"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? $shCls.EMPTY() : $cls.ngrams(${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  /** Codepoint n-grams of `s` (substr(i, n) semantics — the codepoint
    * grid Spark's `substring` and DuckDB's `substr` share); < n
    * codepoints → empty. Static forwarder target for codegen. */
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    val nChars = s.numChars()
    if (nChars < n) return WordShingles.EMPTY()
    val bytes = s.getBytes
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var b = 0
    while (i < nChars) {
      offs(i) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      i += 1
    }
    offs(nChars) = bytes.length
    val out = new Array[Any](nChars - n + 1)
    i = 0
    while (i + n <= nChars) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Greedy left-to-right non-overlapping application of a RANK-ORDERED
 * BPE merge list to a symbol array — the codegen'd form of the nested
 * per-merge `aggregate` folds ([[graft.text.TextAnalysis]]'s
 * `applyMergeColHof`): for each merge (a, b) in order, the current
 * symbol merges into the running tail exactly when tail == a and
 * current == b (a freshly-merged "ab" tail only re-matches when
 * ab == a — the same tail-state rule as the fold). One expression node
 * replaces |merges| nested ~20-node interpreted folds, so plan size and
 * task-closure growth stop scaling with the merge list. NULL array →
 * NULL; NULL elements never match and pass through (the fold's
 * three-valued `===` semantics).
 */
case class BpeApplyMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_bpe_apply"

  // (a, b, a·b) per merge, UTF8 once — shared by eval and the generated
  // code (addReferenceObj)
  @transient private[graftshim] lazy val table: Array[Array[UTF8String]] =
    merges.map { case (a, b) =>
      Array(UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b))
    }.toArray

  override protected def nullSafeEval(v: Any): Any =
    BpeApplyMerges.applyAll(v.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("bpeMerges", table,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    val cls = "org.apache.spark.sql.graftshim.BpeApplyMerges"
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $cls.applyAll($a, $tbl);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeApplyMerges {
  /** In-place compaction: one pass per merge over the shrinking symbol
    * buffer. Static forwarder target for the generated code — NOT named
    * `apply`: that clashes with the case class's inherited
    * `TreeNode.apply(int)`, scalac then emits no static forwarder, and
    * Janino's compile failure silently drops the stage to interpreted
    * eval. */
  def applyAll(syms: ArrayData, merges: Array[Array[UTF8String]]): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[Any](n)
    var i = 0
    while (i < n) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var len = n
    var m = 0
    while (m < merges.length) {
      val a = merges(m)(0)
      val b = merges(m)(1)
      val ab = merges(m)(2)
      var w = 0
      var r = 0
      while (r < len) {
        val s = cur(r)
        if (w > 0 && cur(w - 1) != null && cur(w - 1).equals(a) &&
            s != null && s.equals(b)) {
          cur(w - 1) = ab
        } else {
          cur(w) = s
          w += 1
        }
        r += 1
      }
      len = w
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      cur.asInstanceOf[Array[AnyRef]], len).asInstanceOf[Array[Any]])
  }
}

/**
 * Adjacent symbol pairs of an `ARRAY<STRING>` as
 * `ARRAY<STRUCT<a STRING, b STRING>>` — the codegen'd form of the BPE
 * recount's `transform(sequence(1, size(syms) - 1), i =>
 * struct(element_at(syms, i), element_at(syms, i + 1)))` lattice.
 * Fewer than 2 elements (or a NULL array) yields an EMPTY array — the
 * consumer explodes, so empty and the HOF's NULL drop rows
 * identically.
 */
case class AdjacentPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_adjacent_pairs"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.EMPTY
    else AdjacentPairs.pairs(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val shCls = "org.apache.spark.sql.graftshim.WordShingles"
    val cls = "org.apache.spark.sql.graftshim.AdjacentPairs"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? $shCls.EMPTY() : $cls.pairs(${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AdjacentPairs {
  /** (syms[i], syms[i+1]) structs for i in 0..n-2; < 2 elements →
    * empty. Static forwarder target for codegen. */
  def pairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return WordShingles.EMPTY()
    val out = new Array[Any](n - 1)
    var prev: Any = if (syms.isNullAt(0)) null else syms.getUTF8String(0)
    var i = 1
    while (i < n) {
      val curr: Any = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      out(i - 1) = new GenericInternalRow(Array[Any](prev, curr))
      prev = curr
      i += 1
    }
    new GenericArrayData(out)
  }
}
