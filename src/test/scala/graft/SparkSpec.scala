package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession + result-comparison helpers. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Rows normalized for order-insensitive comparison: columns sorted by
    * name, doubles rounded to 9 decimals to absorb sub-tolerance noise. */
  def normalize(df: DataFrame): Seq[Seq[(String, Any)]] = {
    val cols = df.columns.sorted
    df.collect().toSeq.map { r =>
      cols.toSeq.map { c =>
        val v = r.get(r.fieldIndex(c)) match {
          case d: java.lang.Double =>
            BigDecimal(d.doubleValue()).setScale(9,
              BigDecimal.RoundingMode.HALF_UP)
          case f: java.lang.Float =>
            BigDecimal(f.doubleValue()).setScale(6,
              BigDecimal.RoundingMode.HALF_UP)
          case bd: java.math.BigDecimal =>
            BigDecimal(bd.doubleValue()).setScale(9,
              BigDecimal.RoundingMode.HALF_UP)
          case i: java.lang.Integer => i.longValue(): java.lang.Long
          case x => x
        }
        (c, v)
      }
    }.sortBy(_.toString())
  }

  def assertSameRows(actual: DataFrame, expected: DataFrame,
      label: String = ""): Unit = {
    val a = normalize(actual)
    val e = normalize(expected)
    if (a != e) {
      val onlyA = a.diff(e).take(5)
      val onlyE = e.diff(a).take(5)
      fail(s"$label mismatch: ${a.size} vs ${e.size} rows\n" +
        s"  only in actual:   ${onlyA.mkString("; ")}\n" +
        s"  only in expected: ${onlyE.mkString("; ")}")
    }
  }

  /** Call sites of the jobs the calling thread starts while `f` runs, in
    * start order. A job that a Dataset action runs (in its SQL execution)
    * reports the action's call site ("head at Centrality.scala:71"),
    * including a broadcast the action's plan runs from a pool thread;
    * any other job reports its own ("localCheckpoint at
    * Iterate.scala:120", "parquet at SnapshotTable.scala:<line>", or a pool
    * thread's for the broadcasts a lineage cut runs — pool threads
    * inherit the caller's local properties). A marker job started
    * afterwards flushes the listener queue, which delivers in order. */
  def jobsDuring(f: => Unit): Seq[String] = {
    val tag = java.util.UUID.randomUUID().toString
    val actions = new ConcurrentHashMap[String, String]()
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("jobs.tag") != null)
          .foreach { p =>
            val own = if (e.stageInfos.isEmpty) ""
              else e.stageInfos.maxBy(_.stageId).name
            seen.add(p.getProperty("jobs.tag") ->
              Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))
                .flatMap(id => Option(actions.get(id))).getOrElse(own))
          }
    }
    listening(listener, tag, () => seen.asScala.exists(_._1 == "marker"))(f)
    seen.asScala.toSeq.collect { case (`tag`, site) => site }
  }

  /** The RDD operation scopes (the physical operators' names: "Union",
    * "Exchange", "HashAggregate", ...) of each stage that the jobs the
    * calling thread starts while `f` runs submit, in submission order. A
    * stage whose shuffle output already exists is skipped, not
    * submitted. */
  def stageScopesDuring(f: => Unit): Seq[Set[String]] = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(String, Set[String])]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("jobs.tag")))
          .foreach(t => seen.add(t ->
            e.stageInfo.rddInfos.flatMap(_.scope).map(_.name).toSet))
    }
    listening(listener, tag, () => seen.asScala.exists(_._1 == "marker"))(f)
    seen.asScala.toSeq.collect { case (`tag`, scopes) => scopes }
  }

  /** Runs `f` with `listener` registered and the calling thread's jobs
    * tagged `tag` (local property "jobs.tag"), then runs a job tagged
    * "marker" and waits until `sawMarker` — the listener queue delivers
    * in order, so every event of `f` has been handled by then. */
  private def listening(listener: SparkListener, tag: String,
      sawMarker: () => Boolean)(f: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("jobs.tag", tag)
      f
      sc.setLocalProperty("jobs.tag", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 60000
      while (!sawMarker() && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(sawMarker(), "listener never saw the marker job")
    } finally {
      sc.setLocalProperty("jobs.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** Analyzer passes while `f` runs: the runs of the analyzer-only rule
    * `ResolveReferences`, which Spark's rule metering counts once per
    * fixed-point iteration of every analysis (an already-analyzed plan
    * runs none). The metering is JVM-wide; suites run one at a time. */
  def analyzerPasses(f: => Unit): Long = ruleRuns("ResolveReferences")(f)

  /** Runs of the Catalyst rule named `rule` (the simple name of its class)
    * while `f` runs, from Spark's JVM-wide rule metering. */
  def ruleRuns(rule: String)(f: => Unit): Long = {
    def runs: Long = RuleExecutor.dumpTimeSpent().linesIterator
      .map(_.trim.split("\\s+"))
      .find(_.head.split("[.$]").last == rule)
      .fold(0L)(_.last.toLong)
    val before = runs
    f
    runs - before
  }

  /** The messages logged at WARN or above while `f` runs (the session
    * logs at ERROR otherwise). */
  def warningsDuring(f: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val seen = new ConcurrentLinkedQueue[String]()
    val name = s"spec-${java.util.UUID.randomUUID()}"
    val appender = new AbstractAppender(name, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    spark.sparkContext.setLogLevel("WARN")
    try f
    finally {
      spark.sparkContext.setLogLevel("ERROR")
      root.removeAppender(name)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  /** Block-manager storage that `f` created and still holds when it
    * returns: RDD id -> bytes in memory and on disk, for each RDD made
    * while `f` ran that still has a block (a cached frame, a lineage
    * cut). An unpersist reaches this bookkeeping before it returns. */
  def heldBy(f: => Unit): Map[Int, Long] = {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    f
    sc.getRDDStorageInfo.filter(_.id > mark)
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
  }

  def assertAllClose(actual: Map[Long, Double], expected: Map[Long, Double],
      tol: Double = 1e-6, label: String = ""): Unit = {
    assert(actual.keySet == expected.keySet,
      s"$label key sets differ: ${actual.keySet.diff(expected.keySet)} / " +
        s"${expected.keySet.diff(actual.keySet)}")
    for ((k, v) <- expected) {
      assert(math.abs(actual(k) - v) <= tol,
        s"$label vid=$k: got ${actual(k)}, want $v (tol $tol)")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // as graft.Verify, graft.Bench, graft.Submit and perfbench run:
      // AQE re-plans cached relations and drops their partitioning
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
