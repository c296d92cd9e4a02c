package org.apache.spark.sql

import scala.collection.Searching._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  CreateNamedStruct, Expression, If, InterpretedOrdering, LessThanOrEqual,
  Literal, SortOrder}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{MapType, VariantType}

/** Range bounds that are a function of the data alone.
  *
  * Spark's range exchange seeds its sample with the RDD id, so the same
  * rows land behind different bounds whenever code that ran earlier made
  * a different number of RDDs. Here the sample is the rows with the
  * smallest `xxhash64` of their columns (ties broken by the keys): the same
  * rows give the same sample, and so the same bounds, whatever their
  * partitioning and whatever ran before.
  *
  * Each bound is the split between two distinct sampled keys nearest its
  * even-count quantile, so a key never straddles two ranges and a key set
  * with few distinct values (one range per value) is not merged by
  * sampling noise.
  *
  * It lives in `org.apache.spark.sql` for the Catalyst ordering and
  * literals that compare keys exactly as Spark sorts them. */
object RangeBounds {

  /** Sampled rows per range, as Spark's range exchange samples per
    * partition (`spark.sql.execution.rangeExchange
    * .sampleSizePerPartition`). */
  private val SamplePerRange = 100

  /** The range, in `[0, n)`, each row falls in when `df` is cut into at
    * most `n` ranges of about equal row count by `keys` ascending, nulls
    * first: a balanced tree of comparisons against the bounds. Runs one
    * job, the sample (none when `n` is 1); use the column on `df` or a
    * frame with its keys. */
  def rangeIndex(df: DataFrame, keys: Seq[String], n: Int): Column = {
    require(keys.nonEmpty && n > 0, s"need keys and n > 0, got $keys, $n")
    val ds = castToImpl(df)
    val hashable = ds.queryExecution.analyzed.output.filterNot(
      _.dataType.existsRecursively(t =>
        t.isInstanceOf[MapType] || t.isInstanceOf[VariantType]))
    val keyCols = keys.map(col)
    val sample = castToImpl(ds
      .select(xxhash64(hashable.map(ExpressionUtils.column): _*).as("_h") +:
        keyCols: _*)
      .orderBy(col("_h") +: keyCols: _*)
      .limit(math.min(SamplePerRange.toLong * n, 1000000L).toInt))
    val types = sample.schema.fields.tail.map(_.dataType).toSeq
    val ord = new InterpretedOrdering(types.zipWithIndex.map { case (t, i) =>
      SortOrder(BoundReference(i + 1, t, nullable = true), Ascending) })
    // one range needs no bounds, and so no sample
    val rows = if (n == 1) Array.empty[InternalRow]
      else SQLExecution.withSQLConfPropagated(ds.sparkSession) {
        sample.queryExecution.executedPlan.executeCollect()
      }.map(_.copy()).sorted(ord)

    // Split j sits between rows(j - 1) and rows(j) and holds when their
    // keys differ; bound i is the split nearest the i-th n-quantile.
    val splits = (1 until rows.length)
      .filter(j => ord.compare(rows(j - 1), rows(j)) != 0)
    val bounds = (1 until n).flatMap { i =>
      val t = i.toDouble * rows.length / n
      val at = splits.search(math.ceil(t).toInt).insertionPoint
      Seq(at - 1, at).filter(splits.indices.contains)
        .minByOption(k => math.abs(splits(k) - t))
    }.distinct.map(k => rows(splits(k) - 1))

    def struct(fields: Seq[Expression]): Expression = CreateNamedStruct(
      fields.zipWithIndex.flatMap { case (e, i) => Seq(Literal(s"k$i"), e) })
    val key = struct(keyCols.map(ExpressionUtils.expression))
    def bound(r: InternalRow) = struct(types.zipWithIndex.map { case (t, i) =>
      Literal(r.get(i + 1, t), t) })
    // ranges lo..hi; bound(k) is the largest key of range k
    def tree(lo: Int, hi: Int): Expression =
      if (lo == hi) Literal(lo)
      else {
        val mid = (lo + hi) / 2
        If(LessThanOrEqual(key, bound(bounds(mid))), tree(lo, mid),
          tree(mid + 1, hi))
      }
    ExpressionUtils.column(tree(0, bounds.length))
  }
}
