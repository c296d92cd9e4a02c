package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{CheckpointConfig, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-synchronous BFS — depth per vertex from `source`, -1 if
  * unreachable (reference: apps/bfs/bfs_generic.h, level/"depth" output
  * format; grape::BFSAuto registered in .gs_conf.yaml).
  *
  * The frontier is the set of vertices first reached last round; each round
  * joins only the frontier against the edges (the reference's current-level
  * queue), so late rounds are cheap.
  */
object BFS {

  def run(
      g: SimpleGraph,
      source: Long,
      depthLimit: Int = Int.MaxValue,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig()): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val maxRounds = math.min(depthLimit.toLong, 10000L).toInt

    // min over a constant-1 state = "dsts with at least one frontier
    // in-neighbor"
    val gather = g.gather("dir", Combine.Min, g.numVertices, p)

    // state: (vid, depth [-1 = unreached], _changed = in current frontier)
    val init = g.vertices.select(
      col("vid"),
      when(col("vid") === source, lit(0L)).otherwise(lit(-1L)).as("depth"),
      when(col("vid") === source, lit(1)).otherwise(lit(0)).as("_changed"))
      .repartition(p, col("vid"))

    val res = Iterate.run(
      init, maxRounds,
      step = (state, prev) => {
        val frontier = state.where(col("_changed") === 1)
          .select(col("vid"), lit(1L).as("value"))
        val reached = gather(frontier, prev.changed).select(col("vid"))
        state.join(reached.withColumn("hit", lit(1)), Seq("vid"), "left")
          .select(
            col("vid"),
            when(col("depth") >= 0, col("depth"))
              .when(col("hit") === 1, lit(prev.iteration + 1L))
              .otherwise(lit(-1L)).as("depth"),
            when(col("depth") < 0 && col("hit") === 1, lit(1))
              .otherwise(lit(0)).as("_changed"))
      },
      checkpoint = checkpoint)

    res.state.select("vid", "depth")
  }

  /** BFS tree formats (reference: apps/bfs/bfs_generic.h:30-33 emits
    * edges / predecessors / successors, not just depth; NX layer
    * nx/algorithms/builtin.py:446-478 `bfs_edges` depends on it).
    * The reference's tree parent is visit-order-dependent; we canonicalize
    * to the SMALLEST in-neighbor one level up so the output is
    * deterministic and oracle-checkable:
    * parent(v) = min{u : (u,v) ∈ E, depth(u) = depth(v) - 1}.
    *
    * @return (vid, depth, parent) — parent = -1 for the source and
    *         unreachable vertices. The EDGES format is the (parent, vid)
    *         projection of rows with parent >= 0; SUCCESSORS is its
    *         groupBy(parent). */
  def runWithParents(
      g: SimpleGraph,
      source: Long,
      depthLimit: Int = Int.MaxValue,
      numPartitions: Int = 0): DataFrame = {
    val depth = run(g, source, depthLimit, numPartitions)
    val parents = g.edges.select("src", "dst")
      .join(depth.select(col("vid").as("src"), col("depth").as("sd")),
        "src")
      .join(depth.select(col("vid").as("dst"), col("depth").as("dd")),
        "dst")
      .where(col("sd") >= 0 && col("sd") + 1 === col("dd"))
      .groupBy(col("dst").as("vid")).agg(min(col("src")).as("parent"))
    depth.join(parents, Seq("vid"), "left").select(
      col("vid"), col("depth"),
      when(col("vid") === source || col("depth") < 0, lit(-1L))
        .otherwise(coalesce(col("parent"), lit(-1L))).as("parent"))
  }
}
