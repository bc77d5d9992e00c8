package org.apache.spark.sql.graftshim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the text pipeline's n-gram hot path.
 *
 * Why Expressions and not higher-order functions: `transform` /
 * `aggregate` / `filter` are CodegenFallback — every evaluation walks a
 * lambda interpreter with per-element boxing, and a guarded expression
 * like `when(size(sh) > 0, ... array_distinct(sh) ... size(sh))`
 * re-evaluates the whole interpreted subtree once per occurrence.
 * Measured on the r21 bench box (guide §1): the quality gate's
 * repetition signal alone cost 6.2 s for 5,000 short documents —
 * ~240 task-seconds of interpreter time per corpus scan — and the HOF
 * shingle builder another 2.4 s per evaluation. These expressions
 * generate straight-line byte/loop code inside whole-stage codegen
 * (the [[DotProduct]] / [[NfcNormalize]] rationale) and are
 * value-identical to the HOF forms they replace (pinned in
 * TextOpsShimSpec), so every DuckDB oracle is untouched.
 */

/**
 * Word n-gram shingles joined by single spaces, preserving duplicates —
 * the codegen'd form of
 * `when(size(toks) >= n, transform(sequence(0, size-n), i =>
 * concat_ws(" ", slice(toks, i+1, n)))).otherwise(empty)`:
 * element i is toks[i..i+n-1]; fewer than n tokens (or a NULL array —
 * the `when` guard's null-condition path) yields an EMPTY array, never
 * null. NULL elements are skipped by the join exactly like `concat_ws`.
 */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  // never null (null input → empty array, matching the when/otherwise form)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.EMPTY
    else WordShingles.shingles(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graftshim.WordShingles"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? $cls.EMPTY() : $cls.shingles(${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")
  private val emptyArr = new GenericArrayData(Array.empty[Any])
  /** Shared empty array (immutable; the codegen'd null path). */
  def EMPTY(): ArrayData = emptyArr

  /** toks[i..i+n-1] joined by " " for i in 0..len-n; < n tokens → empty.
    * Static forwarder target for the generated code. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return emptyArr
    val out = new Array[Any](sz - n + 1)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i + n <= sz) {
      var j = 0
      while (j < n) {
        buf(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(SPACE, buf: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * All character trigrams of a string, one per codepoint position — the
 * codegen'd form of `when(length(c) >= 3, transform(sequence(1,
 * length(c) - 2), i => c.substr(i, lit(3)))).otherwise(empty)` (the
 * language-ID feature extractor). Fewer than 3 codepoints (or NULL)
 * yields an EMPTY array. Byte offsets of each codepoint are computed in
 * ONE pass, so the whole extraction is O(bytes) instead of the
 * interpreted form's O(chars) `substr` scans per element.
 */
case class CharTrigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_trigrams"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.EMPTY
    else CharTrigrams.trigrams(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val shCls = "org.apache.spark.sql.graftshim.WordShingles"
    val cls = "org.apache.spark.sql.graftshim.CharTrigrams"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? $shCls.EMPTY() : $cls.trigrams(${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharTrigrams {
  /** Codepoint trigrams of `s` (substr(i, 3) semantics, the same
    * codepoint grid Spark's `substring` and DuckDB's `substr` share);
    * < 3 codepoints → empty. Static forwarder target for codegen. */
  def trigrams(s: UTF8String): ArrayData = {
    val nChars = s.numChars()
    if (nChars < 3) return WordShingles.EMPTY()
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
    val out = new Array[Any](nChars - 2)
    i = 0
    while (i + 3 <= nChars) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + 3) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Total character count of an `ARRAY<STRING>` — the codegen'd form of
 * `aggregate(transform(toks, t => length(t)), 0, (acc, x) => acc + x)`
 * (the mean-token-length numerator). NULL array → NULL; a NULL element
 * poisons to NULL exactly like the fold it replaces.
 */
case class ArrayCharCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  // a null ELEMENT yields null even off a non-nullable child
  override def nullable: Boolean = true
  override def prettyName: String = "graft_charcount"

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // long accumulator + explicit overflow throw (ADVICE r21): the
    // replaced aggregate(...) fold would THROW under Spark 4's default
    // ANSI mode past Int.MaxValue total chars — an int here would wrap
    // silently instead. Unreachable at current corpus scales.
    var s = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      s += arr.getUTF8String(i).numChars()
      i += 1
    }
    if (s > Int.MaxValue)
      throw new ArithmeticException("graft_charcount: integer overflow")
    s.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getUTF8String($i).numChars();
         |}
         |if (!${ev.isNull} && $s > Integer.MAX_VALUE) {
         |  throw new ArithmeticException("graft_charcount: integer overflow");
         |}
         |${ev.value} = (int) $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of elements of an `ARRAY<STRING>` equal to any of a fixed word
 * set — the codegen'd form of `size(filter(toks, t =>
 * array_contains(array(words...), t)))` (the stopword-occurrence
 * numerator). NULL array → NULL; NULL elements are not counted (the
 * `filter` predicate's null → excluded semantics). The word table rides
 * into the generated code as a reference object; membership is a linear
 * probe — the sets here are a handful of stopwords.
 */
case class ArrayCountIn(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_countin"

  @transient private lazy val table: Array[UTF8String] =
    words.map(UTF8String.fromString).toArray

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val e = arr.getUTF8String(i)
        var k = 0
        while (k < table.length) {
          if (e.equals(table(k))) { cnt += 1; k = table.length }
          else k += 1
        }
      }
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tbl = ctx.addReferenceObj("countInWords", table,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val cnt = ctx.freshName("cnt")
      val e = ctx.freshName("e")
      s"""
         |int $n = $a.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $e = $a.getUTF8String($i);
         |    for (int $k = 0; $k < $tbl.length; $k++) {
         |      if ($e.equals($tbl[$k])) { $cnt++; break; }
         |    }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of elements of an `ARRAY<STRING>` matching a fixed Java regex —
 * the codegen'd form of `size(filter(toks, t => t.rlike(regex)))` (the
 * latin_ratio numerator; r22, the last interpreted HOF on a registered
 * scan path). Matching is Spark RLIKE's exact semantics
 * (`Pattern.matcher(s.toString).find(0)` on the codepoint string).
 * NULL array → NULL; NULL elements are not counted (the filter
 * predicate's null → excluded semantics). The compiled Pattern rides
 * into the generated code as a reference object, compiled once per
 * plan instead of per evaluation.
 */
case class ArrayCountMatching(child: Expression, regex: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_countmatching"

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(regex)

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          pattern.matcher(arr.getUTF8String(i).toString).find(0)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pat = ctx.addReferenceObj("countMatchingPattern", pattern,
        "java.util.regex.Pattern")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $a.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) &&
         |      $pat.matcher($a.getUTF8String($i).toString()).find(0)) {
         |    $cnt++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * True iff any non-null shingle of the array is a member of a broadcast
 * shingle set — the benchmark-exclusion probe of
 * `graft.streaming.StreamingCurationJobs.decontaminateExclude`, the
 * one-pass form of a LEFT ANTI join on `array_contains(shingles,
 * shingle)` against the same index. NULL array → NULL; NULL elements
 * never match (the join's `array_contains` never matches them either).
 *
 * The set travels as ONE `SparkContext.broadcast` handle made when the
 * job is built, never as plan data: the plan, and every microbatch's
 * re-analysis of it, stays O(1) in the suite size, so the string form
 * shows only the set size. Membership hashes the shingle's UTF-8 bytes
 * (`UTF8String.hashCode`/`equals`), so a probe allocates nothing.
 */
case class ShingleSetHit(child: Expression,
                         shingleSet: Broadcast[java.util.HashSet[UTF8String]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_hit"

  override def toString: String =
    s"$prettyName($child, ${shingleSet.value.size} shingles)"

  override protected def nullSafeEval(v: Any): Any =
    ShingleSetHit.anyMember(v.asInstanceOf[ArrayData], shingleSet.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the handle is a reference object; its value is read once per
    // generated-class instance, not once per row
    val handle = ctx.addReferenceObj("shingleSet", shingleSet,
      "org.apache.spark.broadcast.Broadcast")
    val set = ctx.addMutableState("java.util.Set", "shingleSetValue",
      v => s"$v = (java.util.Set) $handle.value();")
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graftshim.ShingleSetHit.anyMember($a, $set)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSetHit {
  /** Whether any non-null element of `shingles` is in `set` —
    * short-circuits on the first member. Shared by the interpreted path
    * and the generated code (static forwarder target). */
  def anyMember(shingles: ArrayData, set: java.util.Set[UTF8String]): Boolean = {
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i) && set.contains(shingles.getUTF8String(i)))
        return true
      i += 1
    }
    false
  }
}
