package graft.functions.expressions

import scala.collection.Searching.{Found, InsertionPoint}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, LongType}

/** First-match range lookup: the smallest ordinal among the ranges
  * `[lo, hi]` that contain `child`, or null when none does.
  *
  * The ranges are compiled on the driver (see [[RangeOrdinal.build]])
  * into the sorted distinct bounds `b_0 < … < b_{k-1}` and `2k + 1`
  * answer slots: slot `2i + 1` answers a probe equal to `b_i`, slot
  * `2i` a probe strictly between `b_{i-1}` and `b_i`, and slot `2k` one
  * above every bound. A probe costs one binary search, O(log k)
  * comparisons, and the expression is one node however many ranges it
  * holds, so neither the plan nor the generated code grows with them.
  *
  * Every comparison uses the bound type's Catalyst ordering: UTF-8 byte
  * order for strings (not `String.compareTo`, which orders supplementary
  * characters differently), NaN greatest and `-0.0 == 0.0` for doubles
  * — the ordering `>=`/`<=` use, so this agrees with the containment
  * predicate `lo <= child AND child <= hi`. `child` must already be of
  * `boundType`.
  */
case class RangeOrdinal(
    child: Expression,
    boundType: DataType,
    bounds: IndexedSeq[Any],
    slots: IndexedSeq[Long])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "range_ordinal"

  // the bounds stay out of plan strings
  override def toString: String = s"$prettyName($child, ${bounds.length} bounds)"
  override def sql: String = s"$prettyName(${child.sql})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != boundType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a ${boundType.sql} probe, got ${child.dataType.sql}")
    else TypeUtils.checkForOrderingExpr(boundType, prettyName)

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(boundType)

  override protected def nullSafeEval(v: Any): Any = {
    val ord = slots(bounds.search(v)(ordering) match {
      case Found(i) => 2 * i + 1
      case InsertionPoint(i) => 2 * i
    })
    if (ord == RangeOrdinal.NoMatch) null else ord
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the bounds as a typed Java array, so genComp compares unboxed
    val javaType = CodeGenerator.javaType(boundType)
    val typed = java.lang.reflect.Array.newInstance(
      CodeGenerator.javaClass(boundType), bounds.length)
    bounds.indices.foreach(i => java.lang.reflect.Array.set(typed, i, bounds(i)))
    val b = ctx.addReferenceObj("bounds", typed, s"$javaType[]")
    val s = ctx.addReferenceObj("slots", slots.toArray, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val c = ctx.freshName("c")
      val slot = ctx.freshName("slot")
      s"""
         |int $lo = 0;
         |int $hi = $b.length - 1;
         |int $slot = -1;
         |while ($slot < 0 && $lo <= $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  final int $c = ${ctx.genComp(boundType, s"$b[$mid]", v)};
         |  if ($c < 0) { $lo = $mid + 1; }
         |  else if ($c > 0) { $hi = $mid - 1; }
         |  else { $slot = 2 * $mid + 1; }
         |}
         |${ev.value} = $s[$slot < 0 ? 2 * $lo : $slot];
         |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RangeOrdinal =
    copy(child = newChild)
}

object RangeOrdinal {

  /** Slot value of a probe no range contains (`Long.MIN_VALUE` in the
    * generated code). */
  val NoMatch: Long = Long.MinValue

  /** Compile `ranges` — `(lo, hi, ordinal)` triples of Catalyst
    * internal values of `boundType` — into a lookup on `child`.
    *
    * A range with a null bound, or with `lo > hi`, contains nothing and
    * is skipped. The others claim the contiguous slot run from `lo`'s
    * exact slot to `hi`'s, in ascending ordinal order, each slot keeping
    * its first claimant: a next-unclaimed pointer (path-compressed)
    * visits every slot once, so the build is O(m log m) for m ranges.
    */
  def build(child: Expression, boundType: DataType,
            ranges: Seq[(Any, Any, Long)]): RangeOrdinal = {
    val ordering = TypeUtils.getInterpretedOrdering(boundType)
    val valid = ranges.filter { case (lo, hi, o) =>
      require(o != NoMatch, s"range ordinal $NoMatch is reserved")
      lo != null && hi != null && ordering.lteq(lo, hi)
    }
    val bounds = valid.flatMap(r => Seq(r._1, r._2)).sorted(ordering)
      .foldLeft(Vector.empty[Any]) { (acc, x) =>
        if (acc.nonEmpty && ordering.equiv(acc.last, x)) acc else acc :+ x
      }
    def exactSlot(x: Any): Int = bounds.search(x)(ordering) match {
      case Found(i) => 2 * i + 1
      case InsertionPoint(_) => throw new IllegalStateException(s"bound $x not indexed")
    }

    val slots = Array.fill(2 * bounds.length + 1)(NoMatch)
    val next = Array.tabulate(slots.length + 1)(identity)
    def unclaimed(i: Int): Int = {
      var r = i
      while (next(r) != r) r = next(r)
      var j = i
      while (next(j) != r) { val up = next(j); next(j) = r; j = up }
      r
    }
    valid.sortBy(_._3).foreach { case (lo, hi, o) =>
      val last = exactSlot(hi)
      var i = unclaimed(exactSlot(lo))
      while (i <= last) {
        slots(i) = o
        next(i) = i + 1
        i = unclaimed(i + 1)
      }
    }
    RangeOrdinal(child, boundType, bounds, slots.toIndexedSeq)
  }
}
