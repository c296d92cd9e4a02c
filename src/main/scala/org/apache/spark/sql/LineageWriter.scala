package org.apache.spark.sql

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** graft's parquet write that folds a summary of each file it writes in
  * the write's own job, as Delta Lake's writer collects per-file
  * statistics: `FileFormatWriter` with the session's commit protocol,
  * Spark's basic stats tracker and a [[WriteJobStatsTracker]] whose tasks
  * fold each row as the writer hands it to a file. Only committed task
  * attempts report. [[fold]] runs the same fold over a read of files.
  *
  * Like [[LineageCut]], both run the physical plan without opening a SQL
  * execution; Spark reports their jobs as `parquet at <caller>` and `fold
  * at <caller>`. It lives in `org.apache.spark.sql` because the writer
  * API and `StructType.asNullable` are internal to Spark. */
object LineageWriter {

  /** Folds rows into one file's mutable, serializable summary `A`. */
  trait Fold[A] extends Serializable {
    def zero(): A
    def add(acc: A, row: InternalRow): Unit
    /** Folds `b`, the summary of rows that come after `a`'s, into `a`. */
    def merge(a: A, b: A): A
  }

  /** Writes `df` as parquet files into the new directory `path`, in one
    * job. Returns the schema a read of the files gives and the summary of
    * each file that holds rows, by file name. */
  def parquet[A](df: DataFrame, path: String, fold: Fold[A])
      : (StructType, Map[String, A]) = {
    val ds = castToImpl(df)
    val session = ds.sparkSession
    val conf = session.sessionState.conf
    SchemaUtils.checkColumnNameDuplication(ds.columns.toSeq,
      conf.caseSensitiveAnalysis)
    val plan = ds.queryExecution.executedPlan
    val hadoopConf = session.sessionState.newHadoopConf()
    val tracker = new Tracker(fold)
    SQLExecution.withSQLConfPropagated(session) {
      FileFormatWriter.write(session, plan, new ParquetFileFormat,
        FileCommitProtocol.instantiate(conf.fileCommitProtocolClass,
          java.util.UUID.randomUUID().toString, path),
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf, Nil, None, Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), tracker), Map.empty)
    }
    (ds.schema.asNullable, tracker.files.map { case (p, a) =>
      new Path(p).getName -> a })
  }

  /** The summary of each file `df` reads, by `input_file_name()`, in one
    * job; a file split across partitions merges in partition order. */
  def fold[A](df: DataFrame, fold: Fold[A]): Map[String, A] = {
    val ds = castToImpl(df.select(col("*"), input_file_name()))
    val key = df.columns.length
    SQLExecution.withSQLConfPropagated(ds.sparkSession) {
      val parts = ds.sparkSession.sparkContext.runJob(
        ds.queryExecution.executedPlan.execute(),
        (it: Iterator[InternalRow]) => it.foldLeft(new ByFile(fold))(
          (files, r) => files.add(r.getUTF8String(key).toString, r)).accs)
      parts.flatten.foldLeft(Map.empty[String, A]) { case (m, (f, a)) =>
        m.updated(f, m.get(f).fold(a)(fold.merge(_, a)))
      }
    }
  }

  /** A task's summaries by file; as a writer task's stats tracker it
    * keys them by the path in the attempt directory. */
  private final class ByFile[A](fold: Fold[A])
      extends WriteTaskStatsTracker with WriteTaskStats {
    val accs = mutable.LinkedHashMap.empty[String, A]
    @transient private var file: String = _
    @transient private var acc: A = _

    def add(f: String, row: InternalRow): ByFile[A] = {
      if (f != file) { acc = accs.getOrElseUpdate(f, fold.zero()); file = f }
      fold.add(acc, row)
      this
    }

    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = ()
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit =
      add(filePath, row)
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = this
  }

  /** On the driver, [[files]] holds the committed task attempts' files. */
  private final class Tracker[A](fold: Fold[A]) extends WriteJobStatsTracker {
    @transient var files: Map[String, A] = Map.empty

    override def newTaskInstance(): WriteTaskStatsTracker = new ByFile(fold)
    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      files = stats.flatMap(_.asInstanceOf[ByFile[A]].accs).toMap
  }
}
