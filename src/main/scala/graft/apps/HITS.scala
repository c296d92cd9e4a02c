package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.functions._

/** HITS — alternating authority/hub power iteration with per-round
  * max-normalization, reference semantics (apps/hits/hits.h:35-204):
  *
  *   - hub_0 = 1/N (hits_context.h:42), auth_0 = 0;
  *   - auth(u) = Σ_{in-nbr w} hub_last(w); hub(u) = Σ_{out-nbr w} auth(w);
  *   - both vectors divided by their global max each round
  *     (hits.h:121-150, grape::Communicator::Max);
  *   - stop when Σ|hub - hub_last| <= tolerance or step >= max_round
  *     (hits.h:162-164);
  *   - when `normalized`, final division by the vector sums (hits.h:176).
  *
  * Global max/sum scalars are driver-side `agg(...)` results re-broadcast as
  * literals (SURVEY.md §4.1); per-round cost is two join+groupBy shuffles.
  */
object HITS {

  /** @return (vid, hub, auth) */
  def run(
      g: SimpleGraph,
      tolerance: Double = 0.01,
      maxRound: Int = 100,
      normalized: Boolean = true,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val n = g.numVertices.toDouble
    // auth(u) = sum of hub over in-neighbors: flow src->dst on the edges;
    // hub(u) = sum of auth over out-neighbors: flow dst->src (reversed).
    val toAuth = g.gather("dir", Combine.Sum, n.toLong, p)
    val toHub = g.gather("rev", Combine.Sum, n.toLong, p)

    var state = LineageCut.localCheckpoint(g.vertices.select(col("vid"),
      lit(1.0 / n).as("hub"), lit(0.0).as("auth"))
      .repartition(p, col("vid"))).df

    var step = 0
    var done = false
    var lastCk: org.apache.spark.sql.DataFrame = null
    while (!done && step < maxRound) {
      val authMsgs =
        toAuth(state.select(col("vid"), col("hub").as("value")), -1L)
          .select(col("vid"), col("msg").as("na"))
      val s1 = state.join(authMsgs, Seq("vid"), "left").select(
        col("vid"), col("hub").as("hub_last"),
        coalesce(col("na"), lit(0.0)).as("auth"))
      val hubMsgs =
        toHub(s1.select(col("vid"), col("auth").as("value")), -1L)
          .select(col("vid"), col("msg").as("nh"))
      // ONE materialization per round; the max/eps scalars and the
      // normalized state are cheap projections over the checkpointed frame.
      val s2 = LineageCut.localCheckpoint(
        s1.join(hubMsgs, Seq("vid"), "left").select(
          col("vid"), col("hub_last"), col("auth"),
          coalesce(col("nh"), lit(0.0)).as("hub"))).df

      val r = s2.agg(max(col("hub")), max(col("auth"))).head()
      val maxH = r.getDouble(0)
      val maxA = r.getDouble(1)
      if (maxH <= 0.0 || maxA <= 0.0) {
        // Edgeless (or fully drained) graph: normalizing would divide by
        // zero and NaN every score — keep the pre-round state and stop
        // (the reference CHECK-guards its normalization scalars).
        done = true
      } else {
        val eps = s2.agg(sum(abs(col("hub") / maxH - col("hub_last"))))
          .head().getDouble(0)
        if (lastCk != null) lastCk.unpersist()
        lastCk = s2
        state = s2.select(col("vid"), (col("hub") / maxH).as("hub"),
          (col("auth") / maxA).as("auth"))
        step += 1
        if (eps <= tolerance) done = true
      }
    }

    val out = if (normalized) {
      val r = state.agg(sum(col("hub")), sum(col("auth"))).head()
      val (sh, sa) = (r.getDouble(0), r.getDouble(1))
      state.select(col("vid"), (col("hub") / sh).as("hub"),
        (col("auth") / sa).as("auth"))
    } else state
    LineageCut.localCheckpoint(out).df
  }
}
