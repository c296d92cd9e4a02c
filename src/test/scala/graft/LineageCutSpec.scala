package graft

import java.nio.file.{Files, Paths}

import graft.pregel.Iterate
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, LineageCut, Row}
import org.apache.spark.sql.LineageCut.{Max, Min, Sum}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.UnsafeAlignedOffset
import scala.jdk.CollectionConverters._

/** The engine's one lineage cut ([[LineageCut]]) against Spark's eager
  * `Dataset.localCheckpoint`: same rows, schema and partitioning, a leaf
  * plan, and the row count, `_changed` sum and declared reductions of the
  * same job. */
class LineageCutSpec extends SparkSpec {

  import spark.implicits._

  private def sumChanged(df: DataFrame): Long = {
    val r = df.agg(sum(col("_changed").cast("long"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** A collected value compared exactly: a double by its bits (NaN and
    * -0.0 included), binary by content, nested values likewise. */
  private def exact(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(exact)
    case s: scala.collection.Seq[_] => s.map(exact)
    case m: scala.collection.Map[_, _] =>
      m.map(kv => exact(kv._1) -> exact(kv._2))
    case x => x
  }

  /** The rows of a frame with their partition ids, in the order a scan of
    * the frame yields them. */
  private def placed(df: DataFrame): Seq[Any] =
    df.select(spark_partition_id().as("pid"), struct(col("*")).as("r"))
      .collect().toSeq.map(exact)

  /** Asserts that `df`'s cut equals Spark's eager local checkpoint of it:
    * rows (each in the same partition), schema, output partitioning and
    * ordering. Returns the cut and the checkpoint. */
  private def assertCutsLikeSpark(df: DataFrame)
      : (LineageCut.Cut, DataFrame) = {
    val ref = df.localCheckpoint(true)
    val cut = LineageCut.localCheckpoint(df)
    assert(cut.rows == ref.count())
    assert(placed(cut.df).sortBy(_.toString) ==
      placed(ref).sortBy(_.toString))
    assert(cut.df.schema == ref.schema)
    val (plan, want) = (cut.df.queryExecution.executedPlan,
      ref.queryExecution.executedPlan)
    assert(plan.outputPartitioning == want.outputPartitioning)
    assert(plan.outputOrdering.map(_.sql) == want.outputOrdering.map(_.sql))
    (cut, ref)
  }

  test("rows, schema and output partitioning equal Spark's local " +
      "checkpoint") {
    val df = (0L until 50L).map(v => (v, if (v % 3 == 0) None else Some(v)))
      .toDF("vid", "x")
      .select(col("vid"), col("x"), array(col("vid")).as("a"),
        when(col("vid") % 5 =!= 0, concat(lit("s"), col("vid"))).as("s"))
      .select(col("*"), col("s").cast("binary").as("b"),
        (col("vid") * lit(BigDecimal("1.25"))).cast("decimal(10,2)").as("dc"),
        (col("vid") * lit(BigDecimal("1.25"))).cast("decimal(38,10)").as("dw"),
        map(col("vid"), col("s")).as("m"), struct(col("x"), col("s")).as("st"),
        lit(null).as("n"), element_at(array(lit(Double.NaN), lit(-0.0),
          lit(0.0), lit(1.5)), (col("vid") % 4 + 1).cast("int")).as("d"))
      .repartition(4, col("vid")).sortWithinPartitions("vid")
    val (cut, ref) = assertCutsLikeSpark(df)
    assert(cut.rows == 50L && cut.changed == -1L)
    assert(!cut.df.schema("vid").nullable && cut.df.schema("x").nullable)
    val plan = cut.df.queryExecution.executedPlan
    assert(plan.outputPartitioning.numPartitions == 4 &&
      plan.outputOrdering.nonEmpty, plan)
    // sorted by vid within each partition, so also in the same order
    assert(placed(cut.df) == placed(ref))
    // -0.0 and NaN keep their bits
    val d = cut.df.select("d").as[Double].collect()
    assert(d.exists(_.isNaN) && d.exists(x => 1.0 / x < 0))
  }

  test("a cut stores empty partitions and a frame with no rows") {
    val df = (0L until 3L).toDF("vid").repartition(8, col("vid"))
    val (cut, _) = assertCutsLikeSpark(df)
    assert(cut.partitions == 8 && cut.rows == 3L)
    val sizes = cut.df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.count(_ == 0) >= 5, sizes.toSeq)
    val (none, _) = assertCutsLikeSpark(df.where(lit(false)))
    assert(none.rows == 0L && none.df.collect().isEmpty)
  }

  test("a partition spans several chunks; only a row larger than the " +
      "bound makes a larger chunk") {
    val big = LineageCut.ChunkBytes / 3
    val df = (0L until 10L).toDF("vid")
      .select(col("vid"), expr(s"repeat('x', $big + cast(vid as int))")
        .as("s"))
      .union(Seq((10L, "y" * (LineageCut.ChunkBytes + 1))).toDF("vid", "s"))
      .repartition(1)
    val (cut, _) = assertCutsLikeSpark(df)
    val chunks = LineageCut.stored(cut.df).getOrElse(fail("no stored chunks"))
      .asInstanceOf[RDD[Array[Byte]]].map(_.length).collect()
    assert(chunks.length >= 4 &&
      chunks.count(_ > LineageCut.ChunkBytes) == 1, chunks.toSeq)
  }

  test("a plan that emits rows other than UnsafeRows is packed through " +
      "a projection") {
    val session = spark.asInstanceOf[classic.SparkSession]
    val keep = session.experimental.extraStrategies
    session.experimental.extraStrategies = keep :+ GenericRowsStrategy
    try {
      val df = (0L until 20L).map(v => (v, if (v % 4 == 0) null else s"r$v"))
        .toDF(GenericRowsStrategy.Marker, "s")
      val kinds = df.queryExecution.executedPlan.execute()
        .map(_.isInstanceOf[UnsafeRow]).collect().toSet
      assert(kinds == Set(false), s"the plan emits UnsafeRows: $kinds\n" +
        df.queryExecution.executedPlan)
      val (cut, _) = assertCutsLikeSpark(df)
      assert(cut.rows == 20L)
    } finally session.experimental.extraStrategies = keep
  }

  test("a cut's storage is its packed records: 100k (vid, x) rows hold " +
      "their bytes within 10% plus 1 KB per partition") {
    val sc = spark.sparkContext
    val n = 100000L
    val df = spark.range(0L, n, 1L, 4)
      .select(col("id").as("vid"), (col("id") * 0.5).as("x"))
    val mark = sc.emptyRDD[Int].id
    val cut = LineageCut.localCheckpoint(df)
    val Seq(info) = sc.getRDDStorageInfo.filter(_.id > mark).toSeq
    // a record is its size field and the row: a null bitset word and two
    // 8-byte fields
    val packed = n * (UnsafeAlignedOffset.getUaoSize + 24)
    assert(info.diskSize == 0L && math.abs(info.memSize - packed) <=
      packed / 10 + 1024L * cut.partitions,
      s"${info.memSize} bytes stored for $packed packed bytes")
    LineageCut.release(cut.df)
  }

  test("the cut frame's plan is a LogicalRDD leaf") {
    val df = (0L until 10L).toDF("vid")
      .join((0L until 10L).toDF("vid"), "vid").where(col("vid") > 2)
    val plan = LineageCut.localCheckpoint(df).df.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
      s"lineage not cut:\n$plan")
  }

  test("the _changed sum matches sum(cast long) for every accepted type") {
    val frames = Seq(
      "int" -> (0 until 20).map(i => (i.toLong, i % 4))
        .toDF("vid", "_changed"),
      "boolean" -> (0 until 20).map(i => (i.toLong, i % 3 == 0))
        .toDF("vid", "_changed"),
      "long with nulls" -> (0 until 20)
        .map(i => (i.toLong, if (i % 2 == 0) None else Some(i.toLong)))
        .toDF("vid", "_changed"),
      "empty" -> Seq.empty[(Long, Int)].toDF("vid", "_changed"),
      "all null" -> Seq((1L, None: Option[Int])).toDF("vid", "_changed"))
    for ((name, df) <- frames) {
      val cut = LineageCut.localCheckpoint(df.repartition(3))
      assert(cut.changed == sumChanged(df), name)
      assert(cut.rows == df.count(), name)
      assert(sumChanged(cut.df) == cut.changed, name)
    }
  }

  test("a _changed column that is not boolean or integral is refused") {
    val df = Seq((1L, "1")).toDF("vid", "_changed")
    val e = intercept[IllegalArgumentException](LineageCut.localCheckpoint(df))
    assert(e.getMessage.contains("_changed") &&
      e.getMessage.contains("string"), e.getMessage)
  }

  test("declared Sum/Max/Min equal agg(...).head() over the cut frame; " +
      "an empty or all-null column has no value") {
    // doubles of mixed magnitude over 7 partitions: a sum that depends on
    // its addition order, which must be the one Spark's merge uses
    val df = (0 until 400).map { i =>
      (i.toLong, if (i % 5 == 0) None else Some(i % 17 - 8),
        if (i % 7 == 0) None else Some(math.pow(10, i % 9 - 4) / (i + 3)),
        (i % 11).toFloat / 3, None: Option[Double])
    }.toDF("vid", "i", "d", "f", "nul").repartition(7)
    val cols = Seq("i", "d", "f", "nul")
    val reduce = cols.flatMap(c => Seq(Sum(c), Max(c), Min(c)))
    val cut = LineageCut.localCheckpoint(df, reduce)
    assert(cut.rows == 400L && cut.changed == -1L)
    val row = cut.df.agg(sum("i"), max("i"), min("i"), sum("d"), max("d"),
      min("d"), sum("f"), max("f"), min("f")).head()
    // integral columns reduce to Long, float/double ones to Double
    val want = Seq[Number](row.getLong(0), row.getInt(1).toLong,
      row.getInt(2).toLong, row.getDouble(3), row.getDouble(4),
      row.getDouble(5), row.getDouble(6), row.getFloat(7).toDouble,
      row.getFloat(8).toDouble)
    assert(reduce.take(9).map(cut.values) == want)
    assert(!cut.values.keySet.exists(_.column == "nul"), cut.values)
    // the same frame cut again folds to the same bits
    val again = LineageCut.localCheckpoint(cut.df, reduce)
    assert(again.values == cut.values)
    val empty = LineageCut.localCheckpoint(df.where(lit(false)), reduce)
    assert(empty.rows == 0L && empty.values.isEmpty)
  }

  test("a reduction over a missing or non-numeric column is refused") {
    val df = Seq((1L, "1", BigDecimal(1))).toDF("vid", "s", "dec")
    for (c <- Seq("s", "dec", "nope")) {
      val e = intercept[IllegalArgumentException](
        LineageCut.localCheckpoint(df, Seq(Sum(c))))
      assert(e.getMessage.contains(s"'$c'"), e.getMessage)
    }
  }

  test("an Iterate superstep is one job: the cut counts the frontier") {
    val init = (0L until 8L).toDF("vid").select(col("vid"),
      lit(3).as("n"), lit(1).as("_changed"))
    var res: Iterate.Result = null
    val jobs = jobsDuring {
      res = Iterate.run(init, 10, (s, _) => s.select(col("vid"),
        greatest(col("n") - 1, lit(0)).as("n"),
        when(col("n") > 0, 1).otherwise(0).as("_changed")))
    }.size
    // three counting-down rounds and the fixpoint round, plus init's cut
    assert(res.completedRounds == 4)
    assert(res.metrics.map(_.changed) == Seq(8L, 8L, 8L, 0L))
    assert(res.metrics.forall(_.rows == 8L))
    assert(jobs == res.completedRounds + 1, s"$jobs jobs")
  }

  test("src/main cuts lineage only through LineageCut") {
    val call = """\.localCheckpoint\((true|false)?\)""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "LineageCut.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty,
      s"Dataset.localCheckpoint outside LineageCut:\n${hits.mkString("\n")}")
  }

  test("src/main calls neither FileFormatWriter nor a FileCommitProtocol: " +
      "snapshot files have one write path, LineageWriter's sink") {
    val api = """\b(FileFormatWriter|FileCommitProtocol)\b""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if api.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty,
      s"a second write path in src/main:\n${hits.mkString("\n")}")
  }

  test("src/main reads only the listed system properties and environment " +
      "variables, each by a literal key") {
    val knobs = Set(
      // tier and threshold overrides that specs set
      "graft.force.shuffle", "graft.force.csr",
      "graft.frontier.broadcast.max", "graft.salt.threshold",
      // graft.Bench, graft.Verify and graft.Submit
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SCALE_COPIES",
      "SPARK_GRAFT_BENCH_BUDGET", "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_TIME_BUDGET", "SPARK_GRAFT_VERIFY_THREADS")
    val access = """\b(?:sys\.(?:props|env)|System\.get(?:Property|env))\b""".r
    val literal = ("""(?:sys\.(?:props|env)(?:\.(?:get|getOrElse|contains))?""" +
      """|System\.get(?:Property|env))\s*\(\s*"([^"]+)"""").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val reads = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        access.findAllMatchIn(text).map { m =>
          val at = s"$p:${text.take(m.start).count(_ == '\n') + 1}"
          at -> literal.findPrefixMatchOf(text.substring(m.start))
            .map(_.group(1))
        }
      }.toList
    val unkeyed = reads.collect { case (at, None) => at }
    val read = reads.flatMap(_._2).toSet
    def names(keys: Set[String]) = keys.toSeq.sorted.mkString(", ")
    assert(unkeyed.isEmpty && read == knobs,
      s"reads without a literal key: ${unkeyed.mkString(", ")}; " +
        s"unlisted: ${names(read -- knobs)}; " +
        s"listed but never read: ${names(knobs -- read)}")
  }
}

/** Plans a local relation whose first column is named [[Marker]] as a scan
  * that emits its rows as `GenericInternalRow`s, as no built-in operator
  * of Spark's executed plans does. */
object GenericRowsStrategy extends SparkStrategy {
  val Marker = "generic_vid"

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case l: LocalRelation if l.output.headOption.exists(_.name == Marker) =>
      GenericRowsExec(l.output, l.data) :: Nil
    case _ => Nil
  }

  final case class GenericRowsExec(output: Seq[Attribute],
      rows: Seq[InternalRow]) extends LeafExecNode {
    protected def doExecute(): RDD[InternalRow] = {
      val types = output.map(_.dataType)
      sparkContext.parallelize(
        rows.map(r => new GenericInternalRow(r.toSeq(types).toArray)), 2)
    }
  }
}
