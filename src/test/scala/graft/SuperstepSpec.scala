package graft

import graft.apps.{CDLP, PageRank, WCC}
import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Apps whose step is built once per run ([[Iterate.invariant]]): their
  * states equal those of the same step built every round, bit for bit,
  * and a warm run's rounds run only their cuts and state broadcasts. */
class SuperstepSpec extends SparkSpec {

  /** A repo graph built as perfbench builds one: edges placed by `dst`,
    * some repos importing nothing (dangling vertices). */
  private lazy val g: SimpleGraph = {
    val rg = graphbuild.GraphBuilder.build(
      graft.model.SourceFiles.generate(spark, nFiles = 3000L, nRepos = 600))
    rg.vertices.count()
    rg.edges.count()
    rg.simple()
  }

  private def p = spark.sessionState.conf.numShufflePartitions

  /** PageRank with the dangling recurrence on the driver and each
    * round's base as a literal, its step built every round. */
  private def pageRankPerRound(delta: Double, maxRound: Int): DataFrame = {
    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)
    val degrees = g.preparedOutDegrees(p)
    val danglingVnum = degrees.where(col("deg") === 0L).count().toDouble
    var danglingSum = (1.0 / n) * danglingVnum
    val bases = new Array[Double](maxRound + 1)
    for (i <- 1 to maxRound) {
      bases(i) = (1.0 - delta) / n + delta * danglingSum / n
      danglingSum = bases(i) * danglingVnum
    }
    Iterate.run(degrees.select(col("vid"), col("deg"), lit(1.0 / n).as("rank")),
      maxRound,
      step = (state, prev) => {
        val base = bases(prev.iteration + 1)
        val contrib = state.where(col("deg") > 0)
          .select(col("vid"), (col("rank") / col("deg")).as("value"))
        val msgs = gather(contrib, -1L)
          .select(col("vid"), col("msg").as("msum"))
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"), col("deg"),
          when(col("deg") === 0L, lit(base))
            .otherwise(lit(delta) * coalesce(col("msum"), lit(0.0)) +
              lit(base)).as("rank"))
      },
      stop = Iterate.fixedRounds).state.select("vid", "rank")
  }

  /** CDLP's step, built every round. */
  private def cdlpPerRound(maxRound: Int): DataFrame = {
    val gather = g.gather("both", Combine.LabelCount, g.numVertices, p)
    Iterate.run(
      g.vertices.select(col("vid"), col("vid").as("label"))
        .repartition(p, col("vid")),
      maxRound,
      step = (state, _) => {
        val counts =
          gather(state.select(col("vid"), col("label").as("value")), -1L)
            .select(col("vid"), col("label"), col("msg").as("cnt"))
        val pick = counts.groupBy(col("vid"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("vid"), col("m.l").as("picked"))
        state.join(pick, Seq("vid"), "left").select(
          col("vid"), coalesce(col("picked"), col("label")).as("label"))
      },
      stop = Iterate.fixedRounds).state.select("vid", "label")
  }

  /** WCC's step, built every round with the frontier's size. */
  private def wccPerRound(): DataFrame = {
    val gather = g.gather("und", Combine.Min, g.numVertices, p)
    Iterate.run(
      g.vertices.select(col("vid"), col("vid").as("comp"),
        lit(1).as("_changed")).repartition(p, col("vid")),
      200,
      step = (state, prev) => {
        val msgs = gather(state.where(col("_changed") === 1)
            .select(col("vid"), col("comp").as("value")), prev.changed)
          .select(col("vid"), col("msg").as("mc"))
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"),
          least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"),
          when(coalesce(col("mc"), col("comp")) < col("comp"), lit(1))
            .otherwise(lit(0)).as("_changed"))
      }).state.select("vid", "comp")
  }

  private def byVid[T](df: DataFrame, get: org.apache.spark.sql.Row => T) =
    df.collect().map(r => r.getLong(0) -> get(r)).sortBy(_._1).toSeq

  test("PageRank and CDLP equal their per-round steps row for row, bit " +
      "for bit") {
    assert(g.danglingVertices(p) > 0, "the graph has no dangling vertex")
    val ranks = byVid(PageRank.run(g, maxRound = 10), _.getDouble(1))
    val want = byVid(pageRankPerRound(0.85, 10), _.getDouble(1))
    assert(ranks.size == g.numVertices)
    val diff = ranks.zip(want).filter { case (a, b) =>
      a._1 != b._1 ||
        java.lang.Double.doubleToRawLongBits(a._2) !=
          java.lang.Double.doubleToRawLongBits(b._2)
    }
    assert(diff.isEmpty, s"${diff.size} ranks differ: ${diff.take(3)}")
    assert(byVid(CDLP.run(g, maxRound = 10), _.getLong(1)) ==
      byVid(cdlpPerRound(10), _.getLong(1)))
  }

  test("WCC equals its per-round step row for row, and its analyzer " +
      "passes do not grow with its rounds") {
    val (labels, rounds) = WCC.runWithRounds(g)
    assert(rounds > 2, s"$rounds rounds")
    val got = byVid(labels, _.getLong(1))
    assert(got.size == g.numVertices &&
      got == byVid(wccPerRound(), _.getLong(1)))
    def passes(maxRounds: Int): Long =
      analyzerPasses(WCC.runWithRounds(g, maxRounds = maxRounds))
    passes(2)
    val two = passes(2)
    val all = passes(rounds)
    assert(two > 0 && all == two,
      s"analyzer passes: 2 rounds $two, $rounds rounds $all")
  }

  test("a warm PageRank round runs its cut and its state broadcast; a " +
      "second warm run counts nothing") {
    val rounds = 4
    PageRank.run(g, maxRound = rounds)
    val jobs = jobsDuring(PageRank.run(g, maxRound = rounds))
    assert(!jobs.exists(_.startsWith("count at")), jobs)
    val cuts = jobs.count(_.startsWith("localCheckpoint at Iterate.scala"))
    // the initial state's cut, then a broadcast and a cut per round
    assert(cuts == rounds + 1 && jobs.size == 1 + 2 * rounds, jobs)
  }

  test("a warm PageRank run's analyzer and optimizer passes do not grow " +
      "with its rounds") {
    def passes(rounds: Int): (Long, Long) = {
      var optimized = 0L
      val analyzed = analyzerPasses {
        optimized = ruleRuns("ColumnPruning")(PageRank.run(g, maxRound = rounds))
      }
      (analyzed, optimized)
    }
    passes(2)
    val two = passes(2)
    val eight = passes(8)
    assert(two._1 > 0 && two._2 > 0 && eight == two,
      s"(analyzer, optimizer) passes: 2 rounds $two, 8 rounds $eight")
  }
}
