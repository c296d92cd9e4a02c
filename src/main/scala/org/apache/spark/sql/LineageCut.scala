package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types._

/** graft's one lineage cut: the in-memory checkpoint of Spark's eager
  * `Dataset.localCheckpoint(eager = true)` that also counts the frame it
  * cuts, in the same job.
  *
  * The result equals Spark's eager local checkpoint: same rows, same schema
  * (nullability included), same storage level, and the same output
  * partitioning, so a state hash-partitioned by `vid` joins the next
  * round's messages without an exchange on its side. What it drops is
  * the driver work of a Dataset action, which dominates a superstep on
  * small graphs: no SQL execution is opened (no explain string, no SQL
  * tab entry; session confs still reach the tasks), the row copy is a
  * `mapPartitionsInternal` (no closure scan), and the one job's function
  * is declared in this small object, so Spark's closure cleaner parses
  * this class file instead of `Dataset`'s, `RDD`'s or `SparkContext`'s.
  *
  * The method is named `localCheckpoint` so Spark still reports each cut
  * job as `localCheckpoint at <caller>.scala:<line>`.
  *
  * It lives in `org.apache.spark.sql` because `Dataset.ofRows` and
  * `RDD.mapPartitionsInternal` are package-private to Spark. */
object LineageCut {

  /** The frontier column the iteration engine sums for convergence. */
  private val Changed = "_changed"

  /** A cut frame with its row count and the sum of its `_changed`
    * column (-1 when the frame has none; nulls count as 0). */
  final case class Cut(df: DataFrame, rows: Long, changed: Long)

  /** Materializes `df` into local checkpoint storage, cuts its lineage
    * and counts it, in one Spark job. */
  def localCheckpoint(df: DataFrame): Cut = {
    val ds = castToImpl(df)
    val session = ds.sparkSession
    val ordinal = ds.schema.fieldNames.indexOf(Changed)
    val read =
      if (ordinal < 0) null else frontier(ordinal, ds.schema(ordinal).dataType)
    SQLExecution.withSQLConfPropagated(session) {
      val rdd = ds.queryExecution.executedPlan.execute()
        .mapPartitionsInternal(_.map(_.copy()))
      rdd.localCheckpoint()
      var rows = 0L
      var changed = 0L
      session.sparkContext.runJob(rdd, counter(read),
        rdd.partitions.indices,
        (_: Int, c: (Long, Long)) => { rows += c._1; changed += c._2 })
      Cut(classic.Dataset.ofRows(session,
          LogicalRDD.fromDataset(rdd, ds, isStreaming = false)),
        rows, if (read == null) -1L else changed)
    }
  }

  /** Reads the frontier column as 0/1 (boolean) or its integral value;
    * null reads as 0. */
  private def frontier(i: Int, t: DataType): InternalRow => Long = {
    require(t == BooleanType || t.isInstanceOf[IntegralType],
      s"$Changed must be boolean or integral, got ${t.simpleString}")
    t match {
      case BooleanType =>
        r => if (!r.isNullAt(i) && r.getBoolean(i)) 1L else 0L
      case ByteType => r => if (r.isNullAt(i)) 0L else r.getByte(i).toLong
      case ShortType => r => if (r.isNullAt(i)) 0L else r.getShort(i).toLong
      case IntegerType => r => if (r.isNullAt(i)) 0L else r.getInt(i).toLong
      case _ => r => if (r.isNullAt(i)) 0L else r.getLong(i)
    }
  }

  /** The per-partition job: (rows, frontier sum). */
  private def counter(read: InternalRow => Long)
      : (TaskContext, Iterator[InternalRow]) => (Long, Long) =
    (_, it) => {
      var rows = 0L
      var changed = 0L
      while (it.hasNext) {
        val r = it.next()
        rows += 1
        if (read != null) changed += read(r)
      }
      (rows, changed)
    }
}
