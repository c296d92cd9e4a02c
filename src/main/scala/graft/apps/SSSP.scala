package graft.apps

import graft.graph.{SimpleGraph, Strategy}
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{CheckpointConfig, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths (weighted, double) — the reference's
  * sssp_projected (apps/projected/sssp_projected.h:66-170) runs per-fragment
  * Dijkstra and exchanges boundary relaxations until fixpoint; the
  * distributed fixpoint is exactly frontier Bellman-Ford, which is what we
  * run: each round relaxes edges out of vertices whose distance improved.
  *
  * Unreachable = DBL_MAX in the reference (surfaced as inf,
  * python/tests/test_app.py:200-202); we emit -1.0 as the portable sentinel
  * (documented in OracleSql.sssp).
  */
object SSSP {

  def run(
      g: SimpleGraph,
      source: Long,
      maxRounds: Int = 10000,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig()): DataFrame = {
    require(g.hasWeight, "SSSP needs a weight column")
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val gather = g.gather("dirw", Combine.MinPlus, g.numVertices, p)

    val inf = Double.MaxValue
    val init = g.vertices.select(
      col("vid"),
      when(col("vid") === source, lit(0.0)).otherwise(lit(inf)).as("dist"),
      when(col("vid") === source, lit(1)).otherwise(lit(0)).as("_changed"))
      .repartition(p, col("vid"))

    val res = Iterate.run(
      init, maxRounds,
      step = (state, prev) => {
        val frontier = state.where(col("_changed") === 1)
          .select(col("vid"), col("dist").as("value"))
        val relax = gather(frontier, prev.changed)
          .select(col("vid"), col("msg").as("nd"))
        state.join(relax, Seq("vid"), "left").select(
          col("vid"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          when(coalesce(col("nd"), col("dist")) < col("dist"), lit(1))
            .otherwise(lit(0)).as("_changed"))
      },
      checkpoint = checkpoint)

    res.state.select(col("vid"),
      when(col("dist") === inf, lit(-1.0)).otherwise(col("dist"))
        .as("dist"))
  }

  /** sssp_path: shortest-path tree via parent pointers (reference:
    * apps/sssp/sssp_path.h — keeps the predecessor that settled each
    * vertex). The reference's parent choice is nondeterministic among
    * equal-cost predecessors (test/app_tests.sh:318-324); we canonicalize
    * to the SMALLEST such predecessor so the result is partition-invariant
    * and oracle-checkable: parent(v) = min{u : dist(u) + w(u,v) = dist(v)}.
    * Derived from the settled distances with one extra join — no argmin
    * bookkeeping in the hot loop.
    *
    * @return (vid, dist, parent) — parent = -1 for the source and
    *         unreachable vertices. */
  def runWithParents(
      g: SimpleGraph,
      source: Long,
      maxRounds: Int = 10000,
      numPartitions: Int = 0): DataFrame = {
    val dist = run(g, source, maxRounds, numPartitions)
    val e = g.edges.select("src", "dst", "weight")
    val parents = e
      .join(dist.select(col("vid").as("src"), col("dist").as("sd")), "src")
      .join(dist.select(col("vid").as("dst"), col("dist").as("dd")), "dst")
      .where(col("sd") >= 0 && col("dd") >= 0 &&
        col("sd") + col("weight") === col("dd"))
      .groupBy(col("dst").as("vid")).agg(min(col("src")).as("parent"))
    dist.join(parents, Seq("vid"), "left").select(
      col("vid"), col("dist"),
      when(col("vid") === source || col("dist") < 0, lit(-1L))
        .otherwise(coalesce(col("parent"), lit(-1L))).as("parent"))
  }

  /** Multi-source shortest distances: one frontier-relaxation fixpoint
    * over the COMPOSITE state (vid, source) — the distributed form of
    * running |sources| Dijkstras at once (reference sssp_average_length.h
    * PEval loops sources serially per fragment; here every (vertex,
    * source) pair relaxes in the same superstep, so the round count stays
    * one graph diameter regardless of |sources|).
    *
    * @return (vid, source, dist) with dist = -1.0 when unreachable. */
  def multiSource(
      g: SimpleGraph,
      sources: Seq[Long],
      maxRounds: Int = 10000,
      numPartitions: Int = 0): DataFrame = {
    require(g.hasWeight, "multiSource needs a weight column")
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val bcast = Strategy.smallEnoughToBroadcast(
      g.numVertices * sources.size)
    val edges = g.preparedEdges("dirw",
      g.edges.select("src", "dst", "weight"),
      if (bcast) "dst" else "src", p)

    val inf = Double.MaxValue
    val init = g.vertices
      .crossJoin(broadcast(
        spark.createDataFrame(sources.map(Tuple1(_)))
          .toDF("source")))
      .select(col("vid"), col("source"),
        when(col("vid") === col("source"), lit(0.0)).otherwise(lit(inf))
          .as("dist"),
        when(col("vid") === col("source"), lit(1)).otherwise(lit(0))
          .as("_changed"))
      .repartition(p, col("vid"))

    val res = Iterate.run(
      init, maxRounds,
      step = Iterate.invariant { state =>
        val frontier = state.where(col("_changed") === 1)
          .select(col("vid").as("src"), col("source"), col("dist"))
        val relax = edges
          .join(Strategy.frontier(frontier, bcast, -1L), "src")
          .groupBy(col("dst").as("vid"), col("source"))
          .agg(min(col("dist") + col("weight")).as("nd"))
        state.join(relax, Seq("vid", "source"), "left").select(
          col("vid"), col("source"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          when(coalesce(col("nd"), col("dist")) < col("dist"), lit(1))
            .otherwise(lit(0)).as("_changed"))
      })

    res.state.select(col("vid"), col("source"),
      when(col("dist") === inf, lit(-1.0)).otherwise(col("dist"))
        .as("dist"))
  }

  /** sssp_average_length (reference: apps/sssp/sssp_average_length.h —
    * mean of all ordered-pair shortest-path lengths, sum / (n*(n-1)),
    * connected graph assumed; flagged "time consuming" by the reference's
    * own tests). Exact when `sources` = the full vertex set; at 100 TB
    * the sampled form (a handful of sources) is the estimator that scales
    * — unreachable pairs are excluded from the numerator either way.
    *
    * @return single row (avg_length). */
  def averageLength(
      g: SimpleGraph,
      sources: Seq[Long],
      maxRounds: Int = 10000): DataFrame = {
    val n = g.numVertices.toDouble
    multiSource(g, sources, maxRounds)
      .where(col("dist") >= 0 && col("vid") =!= col("source"))
      .agg((sum(col("dist")) / lit(sources.size * (n - 1.0)))
        .as("avg_length"))
  }

  /** sssp_has_path: boolean reachability source -> target (reference:
    * apps/sssp/sssp_has_path.h). One BFS + a point lookup. */
  def hasPath(g: SimpleGraph, source: Long, target: Long): DataFrame = {
    val depth = BFS.run(g.copy(edges = g.edges.select("src", "dst")),
      source)
    depth.where(col("vid") === target).select(
      lit(source).as("src"), lit(target).as("dst"),
      when(col("depth") >= 0, lit(1L)).otherwise(lit(0L)).as("has_path"))
  }
}
