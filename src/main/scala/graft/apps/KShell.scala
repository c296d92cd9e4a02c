package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-shell: the vertices whose core number is exactly k — i.e. members of
  * the k-core that are NOT in the (k+1)-core (reference: apps/kshell/
  * kshell.h, golden `p2p-31-kshell-3`, python/tests/conftest.py:335).
  *
  * Computed by full core decomposition (one peeling pass recording each
  * vertex's removal threshold), which also serves KCore for any k.
  */
object KShell {

  /** @return (vid, in_shell: 0/1) — core_number(vid) == k exactly. */
  def run(g: SimpleGraph, k: Int, numPartitions: Int = 0): DataFrame = {
    val cn = coreNumbers(g, numPartitions)
    cn.select(col("vid"),
      when(col("core") === k, lit(1L)).otherwise(lit(0L)).as("in_shell"))
  }

  /** Full core decomposition: (vid, core), via the distributed h-index
    * fixpoint (Lü et al. 2016, "H-index of a network node"): start from
    * est(v) = deg(v) and repeatedly set est(v) to the H-index of its
    * neighbors' estimates — the monotone fixpoint is exactly the core
    * number. Equivalent output to the reference KCore's curr_k peeling
    * escalation (apps/kcore/kcore.h:108-111) but O(fixpoint rounds) Spark
    * jobs instead of O(max core) sequential peels — the formulation that
    * survives a 100x scale-up. */
  def coreNumbers(g: SimpleGraph, numPartitions: Int = 0,
      maxRounds: Int = 10000): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val gather = g.gather("und", Combine.Collect, g.numVertices, p)

    val init = g.undirectedDegrees
      .select(col("vid"), col("deg").cast("long").as("core"))
      .repartition(p, col("vid"))

    // H-index of an array: with a sorted desc, h = #{i : a(i) >= i+1}.
    def hIndex(arr: org.apache.spark.sql.Column) = {
      val sorted = sort_array(arr, asc = false)
      size(filter(zip_with(sorted, sequence(lit(1), size(sorted)),
        (v, i) => v >= i), x => x)).cast("long")
    }

    val res = Iterate.run(
      init, maxRounds,
      step = Iterate.invariant { state =>
        val nbrEst =
          gather(state.select(col("vid"), col("core").as("value")), -1L)
            .select(col("vid"), col("msg").as("ests"))
        state.join(nbrEst, Seq("vid"), "left").select(
          col("vid"),
          when(col("ests").isNull, lit(0L))
            .otherwise(least(col("core"), hIndex(col("ests"))))
            .as("core"),
          when(col("ests").isNotNull &&
            least(col("core"), hIndex(col("ests"))) < col("core"), lit(1))
            .otherwise(lit(0)).as("_changed"))
      })

    res.state.select("vid", "core")
  }
}
