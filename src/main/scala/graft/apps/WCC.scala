package graft.apps

import graft.graph.{SimpleGraph, Strategy}
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{CheckpointConfig, Iterate}
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.functions._

/** Weakly connected components: propagate the minimum vertex id over the
  * symmetric closure of the edges until fixpoint — the reference's
  * WCCProjected (analytical_engine/apps/projected/wcc_projected.h:74-121:
  * init comp=gid, relax over out+in adjacency, frontier = modified set,
  * terminate when nothing changed).
  *
  * The reference labels components by min *gid* (partition-dependent bit
  * encoding); we label by min *vid*, which is partition-invariant — the
  * user-visible component partition is identical (SURVEY.md §7.4).
  *
  * Frontier optimization (the reference's curr_modified set,
  * wcc_projected.h:122-178): only vertices whose label changed last round
  * send messages, so late rounds touch a tiny frontier instead of the full
  * edge set.
  *
  * Only the Shuffle tier's gather reads the frontier's size (it
  * broadcasts a small frontier, [[graft.graph.Strategy.frontier]]); at
  * the other tiers the step is round-invariant and is built once per run
  * ([[Iterate.invariant]]).
  */
object WCC {

  def run(
      g: SimpleGraph,
      maxRounds: Int = 200,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig()): DataFrame =
    runWithRounds(g, maxRounds, numPartitions, checkpoint)._1

  /** Like run, also returning the number of IncEval rounds executed
    * (for the edges/sec/iteration bench metric). */
  def runWithRounds(
      g: SimpleGraph,
      maxRounds: Int = 200,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig())
      : (DataFrame, Int) = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val gather = g.gather("und", Combine.Min, g.numVertices, p)

    // state: (vid, comp, _changed); round 0 = PEval: everyone "changed".
    val init = g.vertices
      .select(col("vid"), col("vid").as("comp"), lit(1).as("_changed"))
      .repartition(p, col("vid"))

    def step(state: DataFrame, frontierRows: Long): DataFrame = {
      val frontier = state.where(col("_changed") === 1)
        .select(col("vid"), col("comp").as("value"))
      val msgs = gather(frontier, frontierRows)
        .select(col("vid"), col("msg").as("mc"))
      state.join(msgs, Seq("vid"), "left").select(
        col("vid"),
        least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"),
        when(coalesce(col("mc"), col("comp")) < col("comp"), lit(1))
          .otherwise(lit(0)).as("_changed"))
    }

    val res = Iterate.run(
      init, maxRounds,
      step =
        if (Strategy.tier(g.numVertices) == Strategy.Shuffle)
          (state, prev) => step(state, prev.changed)
        else Iterate.invariant(step(_, -1L)),
      checkpoint = checkpoint)

    (res.state.select("vid", "comp"), res.completedRounds)
  }

  /** Incremental WCC — exact component labels after an edge append,
    * WITHOUT re-touching the old edge set (the reference's append-only
    * ingest story, SURVEY.md §2.8, done one better than full recompute):
    * contract every old component to its label vertex, map the new
    * edges' endpoints through their old labels (unknown endpoints are
    * genuinely new vertices and stay themselves), run WCC over the tiny
    * contracted graph — |old components| + |new endpoints| vertices and
    * |new edges| edges — and relabel. Exact because old labels are the
    * min vid of their component, so the contracted min-vid labels equal
    * the full-graph min-vid labels: components merge iff a new edge
    * chain connects them.
    *
    * At 10^12 edges this is the difference between a full-graph
    * superstep run and one over the day's delta: the old graph
    * participates only through its (vid, comp) label relation.
    *
    * @param prevLabels (vid, comp) from a previous run/runIncremental
    * @param newEdges   (src, dst), treated undirected like run()
    * @return (vid, comp) over old ∪ new vertices */
  def runIncremental(
      prevLabels: DataFrame,
      newEdges: DataFrame,
      maxRounds: Int = 200): DataFrame = {
    val labels = prevLabels.select(col("vid"), col("comp"))
    val e = newEdges.select(col("src"), col("dst"))

    val mapped = e
      .join(labels.select(col("vid").as("src"), col("comp").as("csrc")),
        Seq("src"), "left")
      .join(labels.select(col("vid").as("dst"), col("comp").as("cdst")),
        Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))

    val newEndpoints = LineageCut.localCheckpoint(e
      .select(explode(array(col("src"), col("dst"))).as("vid")).distinct()
      .join(labels.select("vid"), Seq("vid"), "left_anti")).df

    val contractedVerts = labels.select(col("comp").as("vid")).distinct()
      .unionByName(newEndpoints)
    val contracted = graft.graph.SimpleGraph(
      contractedVerts, mapped, directed = false)
    val relabel = LineageCut.localCheckpoint(run(contracted, maxRounds)).df

    // old vertices follow their component's new label; new vertices
    // take theirs directly
    labels
      .join(relabel.select(col("vid").as("comp"), col("comp").as("nc")),
        Seq("comp"))
      .select(col("vid"), col("nc").as("comp"))
      .unionByName(
        newEndpoints.join(relabel, Seq("vid")).select("vid", "comp"))
  }
}
