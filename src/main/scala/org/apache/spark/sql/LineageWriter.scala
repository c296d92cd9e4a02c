package org.apache.spark.sql

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** graft's parquet write that folds a summary of each file it writes in
  * the write's own job, as Delta Lake's writer collects per-file
  * statistics. A [[Sink]] is prepared on the driver once per schema:
  * `ParquetFileFormat`'s writer factory and the Hadoop conf its tasks
  * open files with. Each task of a job that writes through it writes its
  * partition's rows straight into one file of the sink's directory, named
  * by its task attempt, folds each row as it writes it, and returns the
  * file's name and summary as its result. `runJob` delivers one
  * successful attempt per partition, so no file is counted twice.
  *
  * There is no commit protocol: no staging directory, no rename, no
  * `_SUCCESS` marker. The caller's commit is the publication of what the
  * job returned (for `graft.sources.SnapshotTable`, its manifest), and a
  * file nobody publishes is garbage. A failed attempt deletes its own
  * file (best effort); what a lost task leaves behind is left to the
  * caller's orphan collection.
  *
  * [[parquet]] runs the write as a job of its own; `LineageCut` runs it
  * in a cut's job. [[fold]] runs the same fold over a read of files. Both
  * run the physical plan without opening a SQL execution; Spark reports
  * their jobs as `parquet at <caller>` and `fold at <caller>`. It lives in
  * `org.apache.spark.sql` because the writer API, `StructType.asNullable`
  * and the task's output metrics are internal to Spark. */
object LineageWriter {

  /** Folds rows into one file's mutable, serializable summary `A`. */
  trait Fold[A] extends Serializable {
    def zero(): A
    def add(acc: A, row: InternalRow): Unit
    /** Folds `b`, the summary of rows that come after `a`'s, into `a`. */
    def merge(a: A, b: A): A
  }

  /** A parquet writer of rows of `schema` into the directory `dir`; see
    * [[LineageWriter]]. [[to]] gives the same writer for another
    * directory, so one prepared factory serves many commits. */
  final class Sink[A] private[LineageWriter] (val dir: String,
      val schema: StructType, factory: OutputWriterFactory,
      conf: SerializableConfiguration, fold: Fold[A]) extends Serializable {

    def to(dir: String): Sink[A] = new Sink(dir, schema, factory, conf, fold)

    /** A task's writer; it opens its file at the first row. */
    def open(ctx: TaskContext): File = new File(ctx)

    /** The summaries a job's tasks returned, by file name. */
    def summaries(written: Iterable[(String, Any)]): Map[String, A] =
      written.map { case (f, a) => f -> a.asInstanceOf[A] }.toMap

    /** The file of one task attempt; a failure of the task deletes it. */
    final class File private[Sink] (ctx: TaskContext) {
      private var out: OutputWriter = _
      private var path: Path = _
      private var acc: A = _
      private var rows = 0L

      def add(row: InternalRow): Unit = {
        if (out == null) start()
        out.write(row)
        fold.add(acc, row)
        rows += 1
      }

      private def start(): Unit = {
        val attempt = new TaskAttemptID("graft", ctx.stageId(), TaskType.MAP,
          ctx.partitionId(), ctx.attemptNumber())
        val hc = new TaskAttemptContextImpl(conf.value, attempt)
        path = new Path(dir, f"part-${ctx.partitionId()}%05d-" +
          s"${ctx.taskAttemptId()}${factory.getFileExtension(hc)}")
        acc = fold.zero()
        out = factory.newInstance(path.toString, schema, hc)
        ctx.addTaskFailureListener { (_, _) =>
          try out.close() catch { case _: Throwable => () }
          try path.getFileSystem(conf.value).delete(path, false)
          catch { case _: Throwable => () }
          ()
        }
      }

      /** Closes the file; its name and summary, None when no row came. */
      def close(): Option[(String, A)] = Option(out).map { o =>
        o.close()
        val metrics = ctx.taskMetrics().outputMetrics
        metrics.setBytesWritten(
          path.getFileSystem(conf.value).getFileStatus(path).getLen)
        metrics.setRecordsWritten(rows)
        path.getName -> acc
      }
    }
  }

  /** `schema` with every column nullable, at every depth: the schema the
    * sinks write, and a read of their files gives. */
  def nullable(schema: StructType): StructType = schema.asNullable

  /** The sink of rows of `nullable(schema)` into `dir`, prepared with
    * `session`'s confs. */
  def sink[A](session: SparkSession, schema: StructType, fold: Fold[A],
      dir: String): Sink[A] = {
    val s = castToImpl(session)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      s.sessionState.conf.caseSensitiveAnalysis)
    val job = Job.getInstance(s.sessionState.newHadoopConf())
    val written = nullable(schema)
    val factory = new ParquetFileFormat().prepareWrite(s, job, Map.empty,
      written)
    new Sink(dir, written, factory,
      new SerializableConfiguration(job.getConfiguration), fold)
  }

  /** Writes `df` through `sink`, in one job. Returns the summary of each
    * file that holds rows, by file name. */
  def parquet[A](df: DataFrame, sink: Sink[A]): Map[String, A] = {
    val ds = castToImpl(df)
    SQLExecution.withSQLConfPropagated(ds.sparkSession) {
      sink.summaries(ds.sparkSession.sparkContext.runJob(
        ds.queryExecution.executedPlan.execute(), writer(sink)).toSeq.flatten)
    }
  }

  /** The write job's function, declared here so that the closure cleaner
    * reads this small class file. */
  private def writer(sink: Sink[_])
      : (TaskContext, Iterator[InternalRow]) => Option[(String, Any)] =
    (ctx, it) => {
      val file = sink.open(ctx)
      while (it.hasNext) file.add(it.next())
      file.close()
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

  /** A task's summaries by file. */
  private final class ByFile[A](fold: Fold[A]) {
    val accs = mutable.LinkedHashMap.empty[String, A]
    private var file: String = _
    private var acc: A = _

    def add(f: String, row: InternalRow): ByFile[A] = {
      if (f != file) { acc = accs.getOrElseUpdate(f, fold.zero()); file = f }
      fold.add(acc, row)
      this
    }
  }
}
