package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  UnknownPartitioning}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.{Platform, UnsafeAlignedOffset}

/** graft's one lineage cut: the in-memory checkpoint of Spark's eager
  * `Dataset.localCheckpoint(eager = true)` that also counts the frame it
  * cuts and computes its declared reductions, in the same job.
  *
  * The cut frame equals Spark's eager local checkpoint in its rows, schema
  * (nullability included), output partitioning and ordering, so a state
  * hash-partitioned by `vid` joins the next round's messages without an
  * exchange on its side. Its storage is packed: each partition is kept,
  * at Spark's local checkpoint level (`MEMORY_AND_DISK`), as a few byte
  * chunks of consecutive `(size, UnsafeRow bytes)` records, each chunk
  * closing at [[ChunkBytes]], instead of as one stored object per row,
  * whose size the block store would estimate by walking sampled rows.
  * The cut frame's leaf reads a view that yields rows pointing into the
  * stored chunks; reading copies nothing. What the cut drops is the
  * driver work of a Dataset action, which dominates a superstep on small
  * graphs: no SQL execution is opened (no explain string, no SQL tab
  * entry; session confs still reach the tasks), the pack and the view are
  * `mapPartitionsInternal`s (no closure scan), and the one job's function
  * is declared in this small object, so Spark's closure cleaner parses
  * this class file instead of `Dataset`'s, `RDD`'s or `SparkContext`'s.
  *
  * The job also folds a declared list of [[Sum]], [[Max]] and [[Min]]
  * reductions over numeric columns (the reference's per-superstep
  * `Communicator` Sum/Max/Min; the `_changed` frontier sum is one case),
  * so a round's global scalars cost no second job. The driver folds the
  * partitions' partials in partition-index order, as `agg(...).head()`
  * merges them, so a run is bit-reproducible.
  *
  * Given a [[LineageWriter.Sink]], the same job also writes the frame as
  * parquet files, one per non-empty partition, each with its lineage
  * summary, so a durable superstep's checkpoint costs no job either.
  *
  * The method is named `localCheckpoint` so Spark still reports each cut
  * job as `localCheckpoint at <caller>.scala:<line>`.
  *
  * It lives in `org.apache.spark.sql` because `Dataset.ofRows` and
  * `RDD.mapPartitionsInternal` are package-private to Spark. */
object LineageCut {

  /** The frontier column the iteration engine sums for convergence. */
  private val Changed = "_changed"

  /** A global reduction of one numeric column with Spark's aggregate
    * semantics: nulls are skipped, and a column without a non-null value
    * has no value (not 0). Integral columns reduce to a `Long` (a sum
    * that overflows fails, as under ANSI mode), others to a `Double`. */
  sealed trait Reduction { def column: String }
  final case class Sum(column: String) extends Reduction
  final case class Max(column: String) extends Reduction
  final case class Min(column: String) extends Reduction

  /** A cut frame with its row count, the sum of its `_changed` column (-1
    * when the frame has none; nulls count as 0), the value of each
    * declared reduction that has one, its partition count, and the
    * summary of each file its sink wrote, by file name
    * ([[LineageWriter.Sink.summaries]] types them). */
  final case class Cut(df: DataFrame, rows: Long, changed: Long,
      values: Map[Reduction, Number], partitions: Int,
      written: Seq[(String, Any)] = Nil)

  /** Materializes `df` into local checkpoint storage, cuts its lineage,
    * counts it, computes `reduce` and writes it through `sink`, in one
    * Spark job. */
  def localCheckpoint(df: DataFrame, reduce: Seq[Reduction] = Nil,
      sink: Option[LineageWriter.Sink[_]] = None): Cut = {
    val ds = castToImpl(df)
    cut(ds, ds.queryExecution.executedPlan, reduce, sink)
  }

  /** The cut of `plan`, an executed plan of `ds` (its own, or one with the
    * same output and output partitioning). The cut frame's leaf is marked
    * analyzed, so a frame built on it analyzes only what it adds. */
  private def cut(ds: classic.Dataset[_], plan: SparkPlan,
      reduce: Seq[Reduction], sink: Option[LineageWriter.Sink[_]]): Cut = {
    val session = ds.sparkSession
    val names = ds.schema.fieldNames
    val frontier = names.contains(Changed)
    val columns = ((if (frontier) Seq(Sum(Changed)) else Nil) ++ reduce)
      .distinct.map { r =>
        val i = names.indexOf(r.column)
        require(i >= 0, s"$r: no column '${r.column}' in ${names.toSeq}")
        val t = ds.schema(i).dataType
        val (ok, want) =
          if (r.column == Changed) (t == BooleanType, "boolean or integral")
          else (t == FloatType || t == DoubleType, "integral or floating")
        require(ok || t.isInstanceOf[IntegralType],
          s"'${r.column}' must be $want, got ${t.simpleString}")
        (r, i, t)
      }
    SQLExecution.withSQLConfPropagated(session) {
      val chunks = plan.execute().mapPartitionsInternal(pack(plan.schema))
      chunks.localCheckpoint()
      val width = plan.output.size
      val rdd = chunks.mapPartitionsInternal(_.flatMap(unpack(_, width)))
      val parts = new Array[Part](rdd.partitions.length)
      session.sparkContext.runJob(rdd, counter(columns, sink),
        rdd.partitions.indices, (i: Int, p: Part) => parts(i) = p)
      val values = columns.indices.flatMap { j =>
        val acc = new Acc(columns(j)._1, columns(j)._3)
        parts.foreach(p => acc.add(p._2(j)))
        Option(acc.result).map(columns(j)._1 -> _)
      }.toMap
      val leaf = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
      leaf.setAnalyzed()
      Cut(classic.Dataset.ofRows(session, leaf),
        parts.map(_._1).sum,
        if (frontier) values.get(Sum(Changed)).fold(0L)(_.longValue) else -1L,
        values.filter(v => reduce.contains(v._1)), parts.length,
        parts.flatMap(_._3).toSeq)
    }
  }

  /** A superstep frame built over a cut state, kept so that every round
    * runs it over its own state's cut without analyzing it again: each
    * occurrence of the state's leaf (a self-join's deduplicated copy
    * included) is swapped for the new cut's RDD, keeping the occurrence's
    * own output attributes and taking the new cut's partitioning, ordering
    * and stats.
    *
    * Where it is safe, the executed plan is reused too. A round runs a
    * copy of the kept plan in which the state's `RDDScanExec`s read the
    * new RDD, so it still gets a fresh broadcast, shuffle and metrics, and
    * the kept plan itself never runs (it holds no round's broadcast or
    * shuffle). That needs the new cut to keep what the old one promised
    * the plan (the same partition count, the same partitioning unless
    * the plan assumed none, an ordering that satisfies the old one),
    * every analyzed occurrence to reach the executed plan as a visible
    * scan (not hidden in a cached relation or an adaptive plan), and no
    * reused exchange or subquery. Otherwise, or when the new cut is
    * ordered more strongly than the old one (round 2's state, sorted by
    * round 1's `vid` join, against the unordered initial state), the round
    * plans the swapped analyzed plan, and that plan becomes the one later
    * rounds reuse.
    *
    * The kept plans hold the RDD object of the cut they were built over,
    * never its blocks. A frame with a nondeterministic expression has no
    * superstep: building it again may draw new values. */
  final class Superstep private[LineageCut] (df: classic.Dataset[_],
      state: RDD[InternalRow]) {
    private var ds: classic.Dataset[_] = _
    private var from: RDD[InternalRow] = _
    private var executed: SparkPlan = _
    private var reusable = false
    anchor(df, state)

    private def anchor(d: classic.Dataset[_], leaf: RDD[InternalRow]): Unit = {
      ds = d
      from = leaf
      executed = d.queryExecution.executedPlan
      val scans = executed.collect {
        case s: RDDScanExec if s.rdd eq leaf => s
      }.size
      reusable = scans > 0 && scans == d.queryExecution.analyzed
        .collectWithSubqueries { case r: LogicalRDD if r.rdd eq leaf => r }
        .size && !executed.exists(p =>
          p.isInstanceOf[ReusedExchangeExec] || p.subqueries.nonEmpty)
    }

    /** This step over `state` (the cut it was built over, or a later cut
      * of the same columns), cut as [[LineageCut.localCheckpoint]] cuts a
      * frame. */
    def localCheckpoint(state: DataFrame, reduce: Seq[Reduction],
        sink: Option[LineageWriter.Sink[_]] = None): Cut = {
      val to = leafOf(state)
      val plan = swapped(to).filterNot(_ => sharper(to)).getOrElse {
        if (!(to.rdd eq from))
          anchor(classic.Dataset.ofRows(ds.sparkSession, over(to)), to.rdd)
        swapped(to).getOrElse(ds.queryExecution.executedPlan)
      }
      cut(ds, plan, reduce, sink)
    }

    /** The schema of the frames this step makes. */
    def schema: StructType = ds.schema

    /** A copy of the executed plan that reads `to`, when it can be reused
      * for `to`. */
    private[sql] def swapped(to: LogicalRDD): Option[SparkPlan] =
      if (!reusable || to.rdd.partitions.length != from.partitions.length)
        None
      else {
        var placed = true
        val plan = executed.clone().transformUp {
          case s: RDDScanExec if placed && (s.rdd eq from) =>
            val m = AttributeMap(to.output.zip(s.output))
            placed = to.output.size == s.output.size &&
              (s.outputPartitioning.isInstanceOf[UnknownPartitioning] ||
                equal(rewrite(to.outputPartitioning, m),
                  s.outputPartitioning)) &&
              SortOrder.orderingSatisfies(
                to.outputOrdering.map(rewrite(_, m)), s.outputOrdering)
            s.copy(rdd = to.rdd)
        }
        Option.when(placed)(plan)
      }

    /** Whether `to` is ordered more strongly than a state scan of the kept
      * plan expects, e.g. a later round's cut, sorted by the `vid` join that
      * made it, against round 1's unordered initial state: planned over
      * `to`, a round needs no sort of the state. */
    private def sharper(to: LogicalRDD): Boolean = executed.exists {
      case s: RDDScanExec if s.rdd eq from =>
        val m = AttributeMap(to.output.zip(s.output))
        !SortOrder.orderingSatisfies(s.outputOrdering,
          to.outputOrdering.map(rewrite(_, m)))
      case _ => false
    }

    /** The analyzed plan with `to` in place of the state's leaf, marked
      * analyzed. */
    private def over(to: LogicalRDD): LogicalPlan = {
      val plan = ds.queryExecution.analyzed.transformUpWithSubqueries {
        case o: LogicalRDD if o.rdd eq from =>
          val m = AttributeMap(to.output.zip(o.output))
          LogicalRDD(o.output, to.rdd, rewrite(to.outputPartitioning, m),
            to.outputOrdering.map(rewrite(_, m)), o.isStreaming)(
            ds.sparkSession, Some(LogicalRDD.rewriteStatistics(to.stats, m)),
            Some(LogicalRDD.rewriteConstraints(to.constraints, m)))
      }
      plan.setAnalyzed()
      plan
    }
  }

  /** The superstep of `df`, a frame built over the cut `state`; None when
    * `state` is not a cut or `df` is nondeterministic. */
  def superstep(df: DataFrame, state: DataFrame): Option[Superstep] = {
    val ds = castToImpl(df)
    castToImpl(state).logicalPlan match {
      case r: LogicalRDD if ds.queryExecution.analyzed.deterministic =>
        Some(new Superstep(ds, r.rdd))
      case _ => None
    }
  }

  private[sql] def leafOf(cut: DataFrame): LogicalRDD =
    castToImpl(cut).logicalPlan match {
      case r: LogicalRDD => r
      case p => throw new IllegalArgumentException(s"not a cut frame:\n$p")
    }

  private def rewrite[T <: Expression](e: T, m: AttributeMap[Attribute]): T =
    e.transform { case a: Attribute => m.getOrElse(a, a) }.asInstanceOf[T]

  private def rewrite(p: Partitioning, m: AttributeMap[Attribute])
      : Partitioning = p match {
    case e: Expression => rewrite[Expression](e, m).asInstanceOf[Partitioning]
    case other => other
  }

  private def equal(a: Partitioning, b: Partitioning): Boolean = (a, b) match {
    case (x: Expression, y: Expression) => x.semanticEquals(y)
    case _ => a == b
  }

  /** Releases the storage behind a cut frame, one [[localCheckpoint]]
    * returned: its [[stored]] chunks; any other frame is left alone. Only
    * the owner of a cut releases it: a frame still planned over the cut
    * can no longer be read. The blocks are dropped through the context,
    * not `RDD.unpersist`, which warns for every locally checkpointed RDD
    * that its lineage is gone: for a cut that is the point. */
  def release(cut: DataFrame): Unit = stored(cut).foreach { c =>
    c.sparkContext.unpersistRDD(c.id, blocking = false)
  }

  /** The stored chunk RDD behind a cut frame's leaf; None for a frame that
    * is not a scan of a view over a checkpointed RDD. */
  def stored(cut: DataFrame): Option[RDD[_]] =
    castToImpl(cut).logicalPlan match {
      case r: LogicalRDD => r.rdd.dependencies match {
        case Seq(d) if d.rdd.isCheckpointedAndMaterialized => Some(d.rdd)
        case _ => None
      }
      case _ => None
    }

  /** The byte bound at which a packed chunk closes. A chunk always takes
    * its first record, so a row larger than the bound is a chunk of its
    * own; no other chunk exceeds it. */
  val ChunkBytes: Int = 1 << 20

  /** The bytes of a record's size field: an int, or a long where the
    * platform reads unaligned words slowly (as Spark's sorter pages). */
  private val SizeBytes = UnsafeAlignedOffset.getUaoSize

  /** Packs a partition's rows into chunks of consecutive `(size, UnsafeRow
    * bytes)` records; a row that is not an `UnsafeRow` is projected to one
    * first. Each chunk is trimmed to its records, and the buffer it is
    * built in is reused for the next one. */
  private def pack(schema: StructType)
      : Iterator[InternalRow] => Iterator[Array[Byte]] = rows =>
    new Iterator[Array[Byte]] {
      private var buf = new Array[Byte](64 << 10)
      private var pending: UnsafeRow = _
      private lazy val project = UnsafeProjection.create(schema)

      def hasNext: Boolean = pending != null || rows.hasNext

      def next(): Array[Byte] = {
        var len = 0
        def take(): Boolean = {
          if (pending == null) pending = rows.next() match {
            case u: UnsafeRow => u
            case r => project(r)
          }
          len == 0 || len + SizeBytes + pending.getSizeInBytes <= ChunkBytes
        }
        while (hasNext && take()) {
          val size = pending.getSizeInBytes
          val end = len + SizeBytes + size
          if (end > buf.length) buf = java.util.Arrays.copyOf(buf,
            math.max(end, math.min(buf.length.toLong * 2, ChunkBytes).toInt))
          val at = Platform.BYTE_ARRAY_OFFSET + len
          UnsafeAlignedOffset.putSize(buf, at, size)
          pending.writeToMemory(buf, at + SizeBytes)
          pending = null
          len = end
        }
        java.util.Arrays.copyOf(buf, len)
      }
    }

  /** The rows of a packed chunk, each an `UnsafeRow` of `width` fields
    * over the chunk's bytes. */
  private def unpack(chunk: Array[Byte], width: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var at = 0
      def hasNext: Boolean = at < chunk.length
      def next(): InternalRow = {
        val base = Platform.BYTE_ARRAY_OFFSET + at
        val size = UnsafeAlignedOffset.getSize(chunk, base)
        val row = new UnsafeRow(width)
        row.pointTo(chunk, base + SizeBytes, size)
        at += SizeBytes + size
        row
      }
    }

  /** Feeds column `i`'s non-null values to `acc`, with the getter of its
    * type chosen once, not per row; a boolean reads as 0/1. */
  private def feed(acc: Acc, i: Int, t: DataType): InternalRow => Unit =
    t match {
      case BooleanType =>
        r => if (!r.isNullAt(i)) acc.add(if (r.getBoolean(i)) 1L else 0L)
      case ByteType => r => if (!r.isNullAt(i)) acc.add(r.getByte(i).toLong)
      case ShortType =>
        r => if (!r.isNullAt(i)) acc.add(r.getShort(i).toLong)
      case IntegerType => r => if (!r.isNullAt(i)) acc.add(r.getInt(i).toLong)
      case LongType => r => if (!r.isNullAt(i)) acc.add(r.getLong(i))
      case FloatType =>
        r => if (!r.isNullAt(i)) acc.add(r.getFloat(i).toDouble)
      case _ => r => if (!r.isNullAt(i)) acc.add(r.getDouble(i))
    }

  /** A partition's row count, its reductions' partial values and the
    * file its sink wrote. */
  private type Part = (Long, Array[Number], Option[(String, Any)])

  /** The per-partition job: the row count, each reduction's partial value
    * (null when the partition has none) and, with a sink, the partition
    * written as one file. */
  private def counter(columns: Seq[(Reduction, Int, DataType)],
      sink: Option[LineageWriter.Sink[_]])
      : (TaskContext, Iterator[InternalRow]) => Part =
    (ctx, it) => {
      val accs = columns.map { case (r, _, t) => new Acc(r, t) }.toArray
      val feeds = columns.indices
        .map(j => feed(accs(j), columns(j)._2, columns(j)._3)).toArray
      val file = sink.map(_.open(ctx))
      var rows = 0L
      while (it.hasNext) {
        val r = it.next()
        rows += 1
        var j = 0
        while (j < feeds.length) { feeds(j)(r); j += 1 }
        if (file.isDefined) file.get.add(r)
      }
      (rows, accs.map(_.result), file.flatMap(_.close()))
    }

  /** A running [[Reduction]] with Spark's aggregate buffer semantics: a
    * sum starts from 0, Max/Min keep the first of equal values, and
    * doubles order as Spark orders them (NaN above all, -0.0 = 0.0). */
  private final class Acc(r: Reduction, t: DataType) {
    private val integral = t != FloatType && t != DoubleType
    private var seen = false
    private var l = 0L
    private var d = 0.0

    /** Whether a value comparing `c` to the running Max/Min replaces it. */
    private def wins(c: Int): Boolean =
      !seen || (if (r.isInstanceOf[Max]) c > 0 else c < 0)

    def add(x: Long): Unit = {
      l = r match {
        case _: Sum => Math.addExact(l, x)
        case _ => if (wins(x.compare(l))) x else l
      }
      seen = true
    }

    def add(x: Double): Unit = {
      d = r match {
        case _: Sum => d + x
        case _ => if (wins(if (x == d) 0 else x.compare(d))) x else d
      }
      seen = true
    }

    /** Folds a partial; null (no value) is skipped. */
    def add(x: Number): Unit =
      if (x == null) ()
      else if (integral) add(x.longValue) else add(x.doubleValue)

    def result: Number =
      if (!seen) null else if (integral) Long.box(l) else Double.box(d)
  }
}
