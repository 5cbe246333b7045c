package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions over `array<long>` bitmap columns.
  *
  * A document's shingle set is a fixed-width bitmap (one long per 64
  * dictionary slots). The all-pairs Jaccard verification evaluates
  * popcount(AND) once per candidate pair — at corpus scale that loop IS
  * the job, so it must stay a primitive loop inside whole-stage codegen
  * (the alternatives measured on the q21/q55 path: a `bit_count` column
  * per word makes 2·words-wide join rows and a words-long projection per
  * pair; HOF `aggregate(zip_with(...))` evaluates interpreted closures).
  *
  * A null element (never produced by the bitmap builder) counts as 0;
  * unequal lengths intersect over the common prefix. Result is never
  * NULL for non-null inputs.
  */
object BitmapOps {
  /** popcount(a AND b) over the common prefix of two long-array bitmaps. */
  def andCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    acc
  }

  /** popcount over all elements of a long-array bitmap. */
  def count(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) acc += java.lang.Long.bitCount(a.getLong(i))
      i += 1
    }
    acc
  }

  /** True iff NO index j < upTo has a(j) == b(j) — the LSH
    * first-agreeing-band dedup primitive: a candidate pair that agrees
    * at band `upTo` is emitted only if no EARLIER band already agreed,
    * so each pair leaves the band-bucket join exactly once and the
    * multiset `distinct()` (a shuffle of pairs × agreeing-bands rows —
    * 327M at the sf1 dedup sweep) disappears. Compared on the band
    * BUCKET values, i.e. exactly the equality the join itself matches
    * on, so "agreeing" here and in the join can never disagree.
    */
  def noEarlierMatch(a: ArrayData, b: ArrayData, upTo: Int): Boolean = {
    val n = math.min(math.min(a.numElements(), b.numElements()), upTo)
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j) && !b.isNullAt(j) && a.getLong(j) == b.getLong(j))
        return false
      j += 1
    }
    true
  }

  /** |a ∩ b| of two ASCENDING-sorted long arrays — the hashed-set
    * verifier's primitive (arrays come from sort_array(collect_set(..)),
    * so they are null-free and duplicate-free by construction; a null
    * element would sort first and simply never match). A single merge
    * pass, so per-pair cost is O(|a|+|b|) independent of any dictionary.
    */
  def sortedAndCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { acc += 1L; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    acc
  }

  /** Pack a hashed-element set into a FIXED-width bitmap: element h sets
    * bit pmod(h, words·64). Collisions are expected and SAFE — the
    * packed form is used only through the provable intersection upper
    * bound derivation (see Dedup.screenCandidates):
    *
    *   |A∩B| ≤ popcount(pkA ∧ pkB) + min(|A|−popcount(pkA), |B|−popcount(pkB))
    *
    * because every shared element's bit lands in the AND, and the
    * collision excess within A∩B is bounded by the excess within either
    * whole set (a colliding group of a subset sits inside a colliding
    * group of the superset).
    *
    * `words` must be in [1, 2^20] — validated loudly here because the
    * SQL registration reaches this with user-supplied values (0 would
    * divide by zero, a negative would allocate a negative array, huge
    * values overflow the bit index).
    */
  def packBits(a: ArrayData, words: Int): ArrayData = {
    if (words < 1 || words > (1 << 20))
      throw new IllegalArgumentException(
        s"pack_bits words must be in [1, ${1 << 20}], got $words")
    val out = new Array[Long](words)
    val bits = words * 64
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val m = (a.getLong(i) % bits).toInt
        val slot = if (m < 0) m + bits else m
        out(slot >> 6) |= 1L << (slot & 63)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[sortedAndCount]] with a PROVABLE early exit: once
    * acc + min(remaining_a, remaining_b) < minRequired the true
    * intersection can no longer reach `minRequired`, so the merge
    * aborts and returns the partial count (strictly below
    * minRequired). Callers that FILTER on `count ≥ minRequired`
    * downstream get identical decisions and identical surviving
    * values — a pair that would pass can never trigger the exit
    * (acc + min(remaining) ≥ true count ≥ minRequired throughout) —
    * while a clearly-failing pair costs only a prefix of the merge.
    * At the sf1 dedup sweep ~93% of the 58M candidate pairs fail
    * verification; this bounds what each failure costs.
    */
  def sortedAndCountBounded(a: ArrayData, b: ArrayData, minRequired: Long): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      if (acc + math.min(na - i, nb - j) < minRequired) return acc
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { acc += 1L; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    acc
  }

  /** The whole per-pair verification decision in one primitive call:
    * size-ratio prefilter, [[sortedAndCountBounded]] early-exit merge,
    * exact Jaccard compare — arithmetic IDENTICAL to the staged
    * jaccardVerify pipeline (same minRequired lower bound, same double
    * DIVISION compare, never a multiplied-out rearrangement whose
    * rounding could flip a borderline pair), so an aggregate built on
    * this reaches exactly the rows that pipeline would emit.
    */
  def pairMatches(a: ArrayData, sizeA: Long, b: ArrayData, sizeB: Long,
                  threshold: Double): Boolean = {
    val lo = math.min(sizeA, sizeB)
    val hi = math.max(sizeA, sizeB)
    if (lo.toDouble < threshold * hi.toDouble) return false
    val minReq =
      math.floor(threshold * (sizeA + sizeB) / (1.0 + threshold)).toLong - 1L
    val n = sortedAndCountBounded(a, b, minReq)
    n.toDouble / (sizeA + sizeB - n).toDouble >= threshold
  }
}

private object BitmapTypeCheck {
  def check(name: String, ts: Seq[DataType]): TypeCheckResult =
    if (ts.forall { case ArrayType(LongType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<bigint> arguments, got ${ts.map(_.simpleString).mkString(", ")}")
}

case class BitmapAndCountExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    BitmapTypeCheck.check(prettyName, Seq(left.dataType, right.dataType))
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_and_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapOps.andCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapOps.andCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitmapAndCountExpr =
    copy(left = l, right = r)
}

case class SortedAndCountExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    BitmapTypeCheck.check(prettyName, Seq(left.dataType, right.dataType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_and_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapOps.sortedAndCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapOps.sortedAndCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedAndCountExpr =
    copy(left = l, right = r)
}

case class PackBitsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, int), got " +
          s"${a.simpleString}, ${b.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pack_bits"

  override def nullSafeEval(a: Any, w: Any): Any =
    BitmapOps.packBits(a.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) => s"graft.functions.BitmapOps.packBits($a, $w)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PackBitsExpr =
    copy(left = l, right = r)
}

case class SortedAndCountBoundedExpr(first: Expression, second: Expression,
                                     third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, bigint), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_and_count_bounded"

  override def nullSafeEval(a: Any, b: Any, m: Any): Any =
    BitmapOps.sortedAndCountBounded(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, m) =>
      s"graft.functions.BitmapOps.sortedAndCountBounded($a, $b, $m)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SortedAndCountBoundedExpr =
    copy(first = f, second = s, third = t)
}

case class BitmapCountExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    BitmapTypeCheck.check(prettyName, Seq(child.dataType))
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_count"

  override def nullSafeEval(a: Any): Any =
    BitmapOps.count(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BitmapOps.count($a)")

  override protected def withNewChildInternal(c: Expression): BitmapCountExpr =
    copy(child = c)
}

case class NoEarlierBandMatchExpr(first: Expression, second: Expression,
                                  third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _),
            org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, int), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "no_earlier_band_match"

  // NULL TOLERANCE — this expression sits under a FILTER on the dedup
  // candidate path, where the default null-intolerant eval would turn a
  // NULL bucket array (a partially-migrated or corrupt index row) into a
  // NULL result, which the filter treats as false: the pair would be
  // SILENTLY dropped. A dedup pass must degrade to duplicates, never to
  // silent misses — so a NULL array (or NULL band index) evaluates to
  // true. Degradation is LITERAL: such a pair is emitted once per
  // agreeing band and downstream verification only filters (it does not
  // dedupe), so a corrupt index row can yield duplicate verified output
  // rows — visible and harmless to a dedup decision, unlike a miss.
  // NULL elements inside the arrays are skipped by
  // [[BitmapOps.noEarlierMatch]] (no-match) for the same reason.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input)
    val b = second.eval(input)
    val u = third.eval(input)
    if (a == null || b == null || u == null) true
    else BitmapOps.noEarlierMatch(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], u.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val af = first.genCode(ctx)
    val bf = second.genCode(ctx)
    val uf = third.genCode(ctx)
    val resultCode =
      code"""
        ${af.code}
        ${bf.code}
        ${uf.code}
        boolean ${ev.value} = true;
        if (!(${af.isNull}) && !(${bf.isNull}) && !(${uf.isNull})) {
          ${ev.value} = graft.functions.BitmapOps.noEarlierMatch(
            ${af.value}, ${bf.value}, ${uf.value});
        }"""
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): NoEarlierBandMatchExpr =
    copy(first = f, second = s, third = t)
}

/** One-call per-pair Jaccard verification over hashed sorted sets
  * (codegen'd; see [[BitmapOps.pairMatches]]). A single child expression
  * on purpose: the any-match aggregate wraps it in a short-circuiting
  * Or, and ONE call means the early exit skips the entire merge — the
  * staged (count column, then compare) form would evaluate the merge
  * per row regardless of the buffer state.
  */
case class PairMatchExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression,
                         threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, sa, b, sb) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint, array<bigint>, bigint), " +
          s"got ${a.simpleString}, ${sa.simpleString}, ${b.simpleString}, ${sb.simpleString}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "pair_match"

  override def nullSafeEval(a: Any, sa: Any, b: Any, sb: Any): Any =
    BitmapOps.pairMatches(a.asInstanceOf[ArrayData], sa.asInstanceOf[Long],
      b.asInstanceOf[ArrayData], sb.asInstanceOf[Long], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, sa, b, sb) =>
      s"graft.functions.BitmapOps.pairMatches($a, $sa, $b, $sb, ${threshold}D)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): PairMatchExpr =
    copy(first = f, second = s, third = t, fourth = q)
}

/** bool_or with a SHORT-CIRCUITING update: `acc OR child` — Spark's Or
  * codegen evaluates the right side only when the left is false, so a
  * group that already found a match skips its remaining rows' child
  * evaluation entirely (the built-in BoolOr rewrites to Max, whose
  * `greatest(acc, value)` update evaluates the child for EVERY row).
  * The per-group early exit is the point: wrapped around
  * [[PairMatchExpr]] it turns "verify every candidate of a group" into
  * "verify until the first true edge". Works identically outside
  * codegen (Or.eval short-circuits too). Null children count as false.
  */
case class AnyTrueAgg(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Coalesce, Literal, Or}
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "any_true"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BooleanType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a boolean argument, got ${child.dataType.simpleString}")
  private lazy val acc =
    AttributeReference("any_true_acc", org.apache.spark.sql.types.BooleanType,
      nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(false))
  override lazy val updateExpressions: Seq[Expression] =
    Seq(Or(acc, Coalesce(Seq(child, Literal(false)))))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Or(acc.left, acc.right))
  override lazy val evaluateExpression: Expression = acc
  override protected def withNewChildInternal(c: Expression): AnyTrueAgg =
    copy(child = c)
}

object BitmapFunctions {
  /** popcount(a & b) of two array<long> bitmap columns (codegen'd). */
  def andCount(a: Column, b: Column): Column =
    ColumnBridge.column(BitmapAndCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** popcount of an array<long> bitmap column (codegen'd). */
  def popcount(a: Column): Column =
    ColumnBridge.column(BitmapCountExpr(ColumnBridge.expression(a)))

  /** intersection size of two ascending-sorted array<long> set columns
    * (codegen'd merge pass).
    */
  def sortedAndCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedAndCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** fixed-width hash-packed bitmap of an array<long> element set
    * (codegen'd; see [[BitmapOps.packBits]] for the safety contract).
    */
  def packBits(a: Column, words: Column): Column =
    ColumnBridge.column(PackBitsExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(words)))

  /** intersection size with a provable early exit below `minRequired` —
    * identical filter decisions when the caller keeps only counts ≥
    * minRequired (codegen'd; see [[BitmapOps.sortedAndCountBounded]]).
    */
  def sortedAndCountBounded(a: Column, b: Column, minRequired: Column): Column =
    ColumnBridge.column(SortedAndCountBoundedExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      ColumnBridge.expression(minRequired)))

  /** LSH first-agreeing-band filter: true iff no index < `upTo` of the
    * two array<long> bucket columns matches (codegen'd).
    */
  def noEarlierBandMatch(a: Column, b: Column, upTo: Column): Column =
    ColumnBridge.column(NoEarlierBandMatchExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      ColumnBridge.expression(upTo)))

  /** One-call per-pair Jaccard verification (size-ratio prefilter +
    * early-exit merge + exact compare; codegen'd — see
    * [[BitmapOps.pairMatches]]).
    */
  def pairMatch(bmA: Column, sizeA: Column, bmB: Column, sizeB: Column,
                threshold: Double): Column =
    ColumnBridge.column(PairMatchExpr(
      ColumnBridge.expression(bmA), ColumnBridge.expression(sizeA),
      ColumnBridge.expression(bmB), ColumnBridge.expression(sizeB),
      threshold))

  /** Short-circuiting bool_or AGGREGATE: once a group's buffer is true,
    * later rows skip the child expression entirely (see [[AnyTrueAgg]]).
    * Compose the child from short-circuiting conjunctions (`&&` codegen
    * skips its right side too) so a matched group pays NOTHING per
    * remaining row — not even a screen.
    */
  def anyTrue(pred: Column): Column =
    ColumnBridge.column(
      AnyTrueAgg(ColumnBridge.expression(pred)).toAggregateExpression())
}
