package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{CheckpointConfig, Iterate}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank with the reference's exact semantics
  * (analytical_engine/benchmarks/apps/pagerank/pagerank.h:95-196):
  *
  *   - p0 = 1/N for every vertex;
  *   - degree = OUT degree; messages flow along out-edges carrying the
  *     normalized rank `rank/deg` (pagerank.h:106-113);
  *   - each round: base = (1-d)/N + d*danglingSum/N (pagerank.h:143-144),
  *     rank'(v) = d * Σ_{u→v} rank(u)/deg(u) + base for deg(v)>0
  *     (pagerank.h:160-170 stores the deg-normalized value and the Output
  *     de-normalizes), rank'(v) = base for dangling v (pagerank.h:158);
  *   - danglingSum' = base * danglingVnum (pagerank.h:190-192) — a scalar
  *     recurrence carried in the state as column `b` (this round's base,
  *     updated with the same float operations in the same order as the
  *     reference's driver loop), so the round plan has no per-round
  *     literal and is built once per run ([[Iterate.invariant]]);
  *   - EXACTLY `maxRound` IncEval rounds, no tolerance test
  *     (pagerank.h:139-141).
  *
  * One shuffle per round: the `groupBy(dst)` message combine (map-side
  * partial aggregation = the reference's message combiner). The edge side is
  * hash-partitioned by `src` once up front; the state side is produced
  * hash-partitioned by `vid` (= `src` of the contribution view), so the
  * per-round join reuses the cached exchange. Hub-vertex skew on the
  * `groupBy(dst)` is handled by Catalyst partial aggregation (per-partition
  * combine caps any single reducer's input at numPartitions rows per key).
  */
object PageRank {

  def run(
      g: SimpleGraph,
      delta: Double = 0.85,
      maxRound: Int = 10,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig()): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)
    val degrees = g.preparedOutDegrees(p) // cached (vid, deg)
    val danglingVnum = g.danglingVertices(p).toDouble

    // base = (1-d)/N + d*danglingSum/N, then danglingSum' = base *
    // danglingVnum; round 1's danglingSum is (1/N) * danglingVnum
    def base(danglingSum: Column): Column =
      lit((1.0 - delta) / n) + lit(delta) * danglingSum / lit(n)
    val init = degrees.select(col("vid"), col("deg"),
      lit(1.0 / n).as("rank"),
      base(lit(1.0 / n) * lit(danglingVnum)).as("b"))

    val res = Iterate.run(
      init, maxRound,
      step = Iterate.invariant { state =>
        val contrib = state.where(col("deg") > 0)
          .select(col("vid"), (col("rank") / col("deg")).as("value"))
        val msgs = gather(contrib, -1L)
          .select(col("vid"), col("msg").as("msum"))
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"), col("deg"),
          when(col("deg") === 0L, col("b"))
            .otherwise(lit(delta) * coalesce(col("msum"), lit(0.0)) +
              col("b")).as("rank"),
          base(col("b") * lit(danglingVnum)).as("b"))
      },
      stop = Iterate.fixedRounds,
      checkpoint = checkpoint)

    res.state.select("vid", "rank")
  }
}
