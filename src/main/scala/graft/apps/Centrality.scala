package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.functions._

/** Degree / eigenvector / Katz centrality, reference semantics. */
object Centrality {

  /** Degree centrality = degree/(n-1)
    * (apps/centrality/degree/degree_centrality.h; in/out/both variants per
    * python/graphscope/nx/algorithms/builtin.py:102-201). */
  def degree(g: SimpleGraph, kind: String = "both"): DataFrame = {
    val n = g.numVertices.toDouble
    val d = kind match {
      case "in"   => g.inDegrees
      case "out"  => g.outDegrees
      case "both" =>
        if (g.directed) {
          val i = g.inDegrees.select(col("vid"), col("deg").as("ind"))
          val o = g.outDegrees.select(col("vid"), col("deg").as("outd"))
          i.join(o, "vid").select(col("vid"),
            (col("ind") + col("outd")).as("deg"))
        } else g.outDegrees
    }
    d.select(col("vid"), (col("deg") / lit(n - 1.0)).as("centrality"))
  }

  /** Eigenvector centrality
    * (apps/centrality/eigenvector/eigenvector_centrality.h:51-141):
    * x_0 = 1/N; each round x'(v) = x(v) + Σ_{in-nbr w} x(w) (the self term
    * is the reference's `x[v] = x_last[v]` seed, :92-99), then L2-normalize;
    * stop when Σ|x' - x| < N*tolerance or round >= max_round. */
  def eigenvector(
      g: SimpleGraph,
      tolerance: Double = 1e-6,
      maxRound: Int = 100,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)

    var state = LineageCut.localCheckpoint(g.vertices
      .select(col("vid"), lit(1.0 / n).as("x"))
      .repartition(p, col("vid"))).df
    var round = 0
    var done = false
    var lastCk: DataFrame = null
    while (!done && round < maxRound) {
      round += 1
      val msgs = gather(state.select(col("vid"), col("x").as("value")), -1L)
        .select(col("vid"), col("msg").as("mx"))
      // one materialization per round; norm/delta are aggs over it
      val raw = LineageCut.localCheckpoint(
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"), col("x").as("x_last"),
          (col("x") + coalesce(col("mx"), lit(0.0))).as("x"))).df
      val norm = math.sqrt(
        raw.agg(sum(col("x") * col("x"))).head().getDouble(0))
      val delta = raw.agg(sum(abs(col("x") / norm - col("x_last"))))
        .head().getDouble(0)
      if (lastCk != null) lastCk.unpersist()
      lastCk = raw
      state = raw.select(col("vid"), (col("x") / norm).as("x"))
      if (delta < n * tolerance) done = true
    }
    LineageCut.localCheckpoint(
      state.select(col("vid"), col("x").as("centrality"))).df
  }

  /** Katz centrality (apps/centrality/katz/katz_centrality.h:60-160):
    * x_0 = 0; each round x'(v) = alpha * Σ_{in-nbr w} x(w) + beta
    * (NOT normalized per round); stop when Σ|x' - x| < N*tolerance or
    * round >= max_round; final L2 normalization when `normalized`. */
  def katz(
      g: SimpleGraph,
      alpha: Double = 0.1,
      beta: Double = 1.0,
      tolerance: Double = 1e-6,
      maxRound: Int = 100,
      normalized: Boolean = true,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)

    var state = LineageCut.localCheckpoint(g.vertices
      .select(col("vid"), lit(0.0).as("x"))
      .repartition(p, col("vid"))).df
    var round = 0
    var done = false
    var totalSum = 0.0
    var lastCk: DataFrame = null
    while (!done && round < maxRound) {
      round += 1
      val msgs = gather(state.select(col("vid"), col("x").as("value")), -1L)
        .select(col("vid"), col("msg").as("mx"))
      val next = LineageCut.localCheckpoint(
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"), col("x").as("x_last"),
          (lit(alpha) * coalesce(col("mx"), lit(0.0)) + lit(beta)).as("x"))).df
      val r = next.agg(sum(abs(col("x") - col("x_last"))),
        sum(col("x") * col("x"))).head()
      val delta = r.getDouble(0)
      totalSum = r.getDouble(1)
      if (lastCk != null) lastCk.unpersist()
      lastCk = next
      state = next.drop("x_last")
      if (delta < n * tolerance) done = true
    }
    if (normalized && totalSum > 0.0) {
      // totalSum = 0 (e.g. maxRound = 0) would yield a 1/0 scale — return
      // the raw scores instead (reference guards its normalizers).
      val s = 1.0 / math.sqrt(totalSum)
      state.select(col("vid"), (col("x") * s).as("centrality"))
    } else state.select(col("vid"), col("x").as("centrality"))
  }
}
