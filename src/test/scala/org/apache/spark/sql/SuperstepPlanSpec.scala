package org.apache.spark.sql

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** [[LineageCut.Superstep]]: a later round's executed plan is the first
  * round's over the new cut, and a cut it cannot take is planned from the
  * swapped analyzed plan. Lives in Spark's package for the plan it swaps
  * in. */
class SuperstepPlanSpec extends graft.SparkSpec {

  import spark.implicits._

  private lazy val g: SimpleGraph = {
    val rng = new scala.util.Random(5L)
    val edges = Seq.fill(200)((rng.nextInt(40).toLong,
      rng.nextInt(40).toLong)).toDF("src", "dst")
    SimpleGraph((0L until 40L).toDF("vid"), edges, directed = true)
  }

  private def p = spark.sessionState.conf.numShufflePartitions

  /** A broadcast-tier gather and the state's vid join, PageRank's shape. */
  private def step(s: DataFrame): DataFrame = {
    val gather = g.gather("dir", Combine.Sum, g.numVertices, p)
    val msgs = gather(s.select(col("vid"), col("x").as("value")), -1L)
      .select(col("vid"), col("msg").as("m"))
    s.join(msgs, Seq("vid"), "left")
      .select(col("vid"), (coalesce(col("m"), lit(0.0)) * 0.5 + 0.1).as("x"))
  }

  private def start = LineageCut.localCheckpoint(
    g.vertices.select(col("vid"), lit(1.0).as("x"))
      .repartition(p, col("vid"))).df

  private def rows(df: DataFrame) =
    df.as[(Long, Double)].collect().sortBy(_._1).toSeq

  /** Runs `f` with broadcast joins left to the gather's hint, as on a
    * graph whose messages exceed the auto-broadcast threshold. */
  private def hintedOnly[T](f: => T): T = {
    val keep = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", keep)
  }

  test("round 2's executed plan is round 1's over the new cut, with a " +
      "fresh broadcast and no exchange on the state side") {
    hintedOnly {
      val s0 = start
      val df = step(s0)
      val ss = LineageCut.superstep(df, s0).getOrElse(fail("no superstep"))
      // round 1 runs a copy of the kept plan too
      val r1 = ss.swapped(LineageCut.leafOf(s0))
        .getOrElse(fail(s"round 1 replans:\n${df.queryExecution.executedPlan}"))
      val c1 = ss.localCheckpoint(s0, Nil)
      val leaf = LineageCut.leafOf(c1.df)
      val r2 = ss.swapped(leaf).getOrElse(fail(s"round 2 replans:\n$r1"))
      def ops(plan: SparkPlan) = plan.collect { case n => n.nodeName }
      def broadcasts(plan: SparkPlan) =
        plan.collect { case b: BroadcastExchangeExec => b }
      def shuffles(plan: SparkPlan) =
        plan.collect { case x: ShuffleExchangeExec => x }
      assert(ops(r2) == ops(r1), s"round 1:\n$r1\nround 2:\n$r2")
      assert(broadcasts(r2).size == 1 &&
        !(broadcasts(r2).head eq broadcasts(r1).head), r2)
      assert(shuffles(r2).size == shuffles(r1).size)
      val j = r2.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"no sort-merge join in\n$r2"))
      assert(shuffles(j.left).isEmpty, s"state side shuffles in\n$r2")
      val scans = r2.collect { case s: RDDScanExec => s.rdd }
      assert(scans.nonEmpty && scans.forall(_ eq leaf.rdd),
        "round 2 does not read round 1's cut")
      // and round 2 cuts the rows its own plan would
      assert(rows(ss.localCheckpoint(c1.df, Nil).df) ==
        rows(LineageCut.localCheckpoint(step(c1.df)).df))
    }
  }

  test("round 2 is planned once over its vid-ordered cut, without " +
      "analysis; from round 3 a round reuses that plan, which does not " +
      "sort the state") {
    hintedOnly {
      def stateSorts(plan: SparkPlan) = plan
        .collectFirst { case j: SortMergeJoinExec => j.left }
        .getOrElse(fail(s"no sort-merge join in\n$plan"))
        .collect { case s: SortExec => s }
      /** The analyzer and optimizer passes of `f`. */
      def passes(f: => Unit): (Long, Long) = {
        var optimized = 0L
        val analyzed =
          analyzerPasses { optimized = ruleRuns("ColumnPruning")(f) }
        (analyzed, optimized)
      }
      val s0 = start
      val ss = LineageCut.superstep(step(s0), s0)
        .getOrElse(fail("no superstep"))
      // the initial state is not ordered: round 1 sorts it
      val r1 = ss.swapped(LineageCut.leafOf(s0)).getOrElse(fail("replans"))
      assert(stateSorts(r1).nonEmpty, r1)
      val c1 = ss.localCheckpoint(s0, Nil)
      assert(c1.df.queryExecution.executedPlan.outputOrdering.nonEmpty)
      var c2: LineageCut.Cut = null
      val (a2, o2) = passes { c2 = ss.localCheckpoint(c1.df, Nil) }
      assert(a2 == 0 && o2 > 0, s"round 2: ($a2, $o2) passes")
      var c = c2
      for (round <- 3 to 4) {
        val plan = ss.swapped(LineageCut.leafOf(c.df))
          .getOrElse(fail(s"round $round replans"))
        assert(stateSorts(plan).isEmpty, s"round $round:\n$plan")
        var next: LineageCut.Cut = null
        assert(passes { next = ss.localCheckpoint(c.df, Nil) } == ((0L, 0L)))
        assert(rows(next.df) ==
          rows(LineageCut.localCheckpoint(step(c.df)).df))
        c = next
      }
    }
  }

  test("a cut placed otherwise is planned from the swapped analyzed " +
      "plan, without analysis") {
    val s0 = start
    val df = step(s0)
    val ss = LineageCut.superstep(df, s0).getOrElse(fail("no superstep"))
    val c1 = ss.localCheckpoint(s0, Nil)
    val moved = LineageCut.localCheckpoint(c1.df.repartition(3, col("vid")))
    assert(ss.swapped(LineageCut.leafOf(moved.df)).isEmpty)
    var c2: LineageCut.Cut = null
    assert(analyzerPasses { c2 = ss.localCheckpoint(moved.df, Nil) } == 0)
    assert(rows(c2.df) == rows(LineageCut.localCheckpoint(step(c1.df)).df))
    // the replanned round is the plan later rounds reuse
    val again = LineageCut.localCheckpoint(moved.df.repartition(3, col("vid")))
    assert(ss.swapped(LineageCut.leafOf(again.df)).nonEmpty)
  }

  test("under adaptive execution a round is planned from the swapped " +
      "analyzed plan, without analysis") {
    val keep = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val s0 = start
      val df = step(s0)
      val ss = LineageCut.superstep(df, s0).getOrElse(fail("no superstep"))
      val c1 = ss.localCheckpoint(s0, Nil)
      assert(ss.swapped(LineageCut.leafOf(c1.df)).isEmpty)
      var c2: LineageCut.Cut = null
      assert(analyzerPasses { c2 = ss.localCheckpoint(c1.df, Nil) } == 0)
      assert(rows(c2.df) == rows(LineageCut.localCheckpoint(step(c1.df)).df))
    } finally spark.conf.set("spark.sql.adaptive.enabled", keep)
  }

  test("a nondeterministic step has no superstep") {
    val s0 = start
    assert(LineageCut.superstep(s0.select(col("vid"), rand().as("x")), s0)
      .isEmpty)
    assert(LineageCut.superstep(step(s0), s0).nonEmpty)
  }
}
