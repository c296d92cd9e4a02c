package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{CheckpointConfig, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDLP — community detection by synchronous label propagation, the
  * LDBC-Graphalytics semantics pinned by the reference's golden file
  * `p2p-31-CDLP` (python/tests/conftest.py:362-363; app registered at
  * coordinator/gscoordinator/builtin/app/.gs_conf.yaml:34-41 with
  * `grape::CDLP`, default max_round=10 — test/run_app.h:241-254):
  *
  *   - init: label(v) = v's own id;
  *   - each round, synchronously: label'(v) = the most frequent label among
  *     ALL of v's in+out neighbors (multiset — a neighbor reachable by both
  *     an in and an out edge counts twice), ties broken by SMALLEST label;
  *   - vertices with no neighbors keep their label;
  *   - run EXACTLY max_round rounds.
  *
  * The per-round mode-with-min-tiebreak is `groupBy(dst, label).count` then
  * `min(struct(-cnt, label))` — lexicographic struct ordering gives
  * (count desc, label asc) without a window, so the whole round is two
  * map-side-combinable aggregations (SURVEY.md §7.3).
  */
object CDLP {

  def run(
      g: SimpleGraph,
      maxRound: Int = 10,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig()): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    // Per-(dst, label) counts over the in+out adjacency; at the CSR tier
    // they come back pre-combined per block, so the big
    // groupBy(dst, label) never sees |E| rows.
    val gather = g.gather("both", Combine.LabelCount, g.numVertices, p)

    val init = g.vertices.select(col("vid"), col("vid").as("label"))
      .repartition(p, col("vid"))

    val res = Iterate.run(
      init, maxRound,
      step = Iterate.invariant { state =>
        val counts =
          gather(state.select(col("vid"), col("label").as("value")), -1L)
            .select(col("vid"), col("label"), col("msg").as("cnt"))
        val pick = counts
          .groupBy(col("vid"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("vid"), col("m.l").as("picked"))
        state.join(pick, Seq("vid"), "left").select(
          col("vid"), coalesce(col("picked"), col("label")).as("label"))
      },
      stop = Iterate.fixedRounds,
      checkpoint = checkpoint)

    res.state.select("vid", "label")
  }
}
