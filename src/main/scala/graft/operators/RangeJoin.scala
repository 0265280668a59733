package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.BinaryComparison
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.DataType

import graft.functions.expressions.RangeOrdinal

/** Range (theta) containment join with first-match semantics
  * (SURVEY.md §2.4 J3/J4).
  *
  * The reference hand-rolls this as an O(n·m) per-row dict scan with a
  * first-match break (/root/reference/etl_cid10.py:296-313). Spark-first
  * design: a left BroadcastNestedLoopJoin on the containment predicate
  * (the ranges side is always small — broadcast it), then
  * row_number() == 1 per left key in `rangeOrder` to reproduce
  * first-match when ranges overlap.
  *
  * Scale: the probe side streams at full parallelism; the build side is
  * broadcast once per executor. [[RangeJoin.firstMatchBySearch]] is the
  * production path for a catalog-sized ranges side: O(log m) comparisons
  * per probe row, one constant-size expression in the plan, an
  * O(m log m) build on the driver, and no shuffle of the probe side.
  * For a ranges side too large to collect, [[RangeJoin.bucketed]]
  * turns the nested loop into a prefix-equi join (bucket ranges by a
  * coarse prefix of the key, equi-join on the bucket, then filter).
  * This window form stays as the reference the others are tested
  * against.
  */
object RangeJoin {

  /** Left-joins `left` to `ranges` where lo <= value <= hi; when several
    * ranges match, keeps the first under `rangeOrder`. Unmatched left
    * rows survive with nulls (their single null-extended row ranks 1).
    *
    * Duplicate left rows are preserved (the reference maps per row):
    * the dedup window partitions on a generated per-row id, not on a
    * user key — `leftKey` remains only as the shuffle hint for plans
    * that want key-partitioned output downstream.
    */
  def firstMatch(
      left: DataFrame,
      ranges: DataFrame,
      value: Column,
      lo: Column,
      hi: Column,
      leftKey: Seq[String],
      rangeOrder: Column): DataFrame = {
    val withId = left.withColumn("__row_id", monotonically_increasing_id())
    val joined = withId.join(
      broadcast(ranges), value >= lo && value <= hi, "left")
    val w = Window.partitionBy(col("__row_id"))
      .orderBy(rangeOrder.asc_nulls_first)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__row_id")
  }

  /** Map-only first-match for a CATALOG-SIZED ranges side: each probe
    * row gets the smallest `ordCol` among the ranges `[lo, hi]` that
    * contain any of `values`, then one broadcast equi-join on that
    * ordinal attaches the range's payload columns. Unmatched left rows
    * survive with nulls. Ordinals should be unique; a range whose
    * ordinal is null matches nothing.
    *
    * The ranges are collected (the same size contract as a broadcast
    * build side) and compiled on the driver into a [[RangeOrdinal]]
    * per value: sorted distinct bounds plus the first-match answer for
    * every bound and every gap between two, an O(m log m) build for m
    * ranges. Per probe row that is one binary search, O(log m), and the
    * plan carries one constant-size expression per value however many
    * ranges there are. Each value is cast to the type Spark's own
    * coercion picks for `value >= lo`, so matching is exactly the
    * predicate `value BETWEEN lo AND hi` (null probes, null bounds and
    * `lo > hi` ranges match nothing).
    *
    * Several `values` mean a match on any of them (J4's OR-of-bounds
    * predicate): the OR's first match is the least of the per-value
    * first matches, and `least` skips nulls.
    *
    * Unlike [[firstMatch]], the probe side is never shuffled: at 100 TB
    * probe scale the row_number variant repartitions the whole fact
    * table on a per-row id just to deduplicate matches, while this is a
    * pure map + broadcast lookup.
    */
  def firstMatchBySearch(
      left: DataFrame,
      ranges: DataFrame,
      ordCol: String,
      lo: String,
      hi: String,
      values: Column*): DataFrame = {
    require(values.nonEmpty, "firstMatchBySearch needs a probe value")
    val ords = values.map { v =>
      val t = comparisonType(left, v, ranges.schema(lo).dataType,
        ranges.schema(hi).dataType)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
      val collected = ranges.filter(col(ordCol).isNotNull)
        .select(col(lo).cast(t), col(hi).cast(t), col(ordCol).cast("long"))
        .collect().toSeq
        .map(r => (toCatalyst(r.get(0)), toCatalyst(r.get(1)), r.getLong(2)))
      toColumn(RangeOrdinal.build(toExpression(v.cast(t)), t, collected))
    }
    val matched = if (ords.size == 1) ords.head else least(ords: _*)
    val r = ranges.withColumnRenamed(ordCol, "__range_ord")
    left.withColumn("__matched_ord", matched)
      .join(broadcast(r), col("__matched_ord") === col("__range_ord"), "left")
      .drop("__matched_ord", "__range_ord")
  }

  /** The type Spark's implicit coercion compares `value >= lo` and
    * `value <= hi` in — read off the analyzed comparisons, so the
    * lookup orders exactly like the predicate it replaces.
    */
  private def comparisonType(left: DataFrame, value: Column,
                             loType: DataType, hiType: DataType): DataType = {
    val probe = left.select(value >= lit(null).cast(loType),
      value <= lit(null).cast(hiType))
    val types = probe.queryExecution.analyzed.expressions
      .flatMap(_.collect { case c: BinaryComparison => c.left.dataType })
      .distinct
    require(types.size == 1,
      s"range bounds compare in different types: ${types.mkString(", ")}")
    types.head
  }

  /** Scale path for a ranges side too large to broadcast: both sides are
    * expanded to coarse buckets (every bucket a range overlaps), then
    * equi-joined on the bucket and filtered by the exact containment
    * predicate — turning a nested-loop join into a shuffled hash join.
    *
    * `bucketOf(c)` must map a point to its bucket id; `bucketsOf(lo,hi)`
    * must enumerate every bucket id the range touches (as an array
    * column). Duplicate matches across buckets are impossible because a
    * point lives in exactly one bucket.
    */
  def bucketed(
      left: DataFrame,
      ranges: DataFrame,
      value: Column,
      lo: Column,
      hi: Column,
      bucketOf: Column => Column,
      bucketsOf: (Column, Column) => Column): DataFrame = {
    val l = left.withColumn("__bucket", bucketOf(value))
    val r = ranges.withColumn("__bucket", explode(bucketsOf(lo, hi)))
    l.join(r, Seq("__bucket"), "inner")
      .filter(value >= lo && value <= hi)
      .drop("__bucket")
  }
}
