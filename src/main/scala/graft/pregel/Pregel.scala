package graft.pregel

import graft.graph.{SimpleGraph, Strategy}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.LineageCut.{Reduction, Sum}
import org.apache.spark.sql.functions._

/** Generic Pregel-style runner — the engine's user-extension surface,
  * mirroring the reference's Pregel UDF API
  * (`@graphscope.analytical.udf.pregel`: Init / Compute(messages) /
  * Combine — python/graphscope/analytical/udf/decorators.py:116, C++
  * adapter core/app/pregel/pregel_app_base.h, combiner
  * pregel_compute_context.h:94-130).
  *
  * Declarative column-expression form (GraphFrames-style) so the whole
  * superstep stays inside Catalyst codegen:
  *   - `init`: expression over the vertex columns -> initial state;
  *   - `sendToDst` / `sendToSrc`: expression over `src_state`/`dst_state`
  *     and edge columns -> message value (null = send nothing);
  *   - `agg`: combiner over the collected `msg` column (e.g. sum/min);
  *   - `update`: (state, aggregatedMsg) -> new state; aggregatedMsg is
  *     null for vertices that received nothing.
  *
  * One shuffle per superstep (the message groupBy) — the combiner runs
  * map-side, exactly like the reference's combine() hook.
  */
object Pregel {

  /** Named global aggregator (reference: `core/app/pregel/aggregators/`,
    * registered via `register_aggregator` and read back one superstep
    * later, pregel_compute_context.h:242-250 + aggregators_test.h):
    * `contribute` is a numeric expression over the vertex columns
    * (`vid`, `state`), `combine` the global reduction — `Sum`, `Max` or
    * `Min` from [[org.apache.spark.sql.LineageCut]], the reference's
    * numeric aggregators. The contribution is a column of the state, so
    * each superstep's lineage cut combines it in the cut's own job, and
    * the next superstep's `updateWithAggregators` sees the value as a
    * literal (bigint for integral contributions, double otherwise) — the
    * reference's globally-synced aggregate at no extra job. */
  final case class PregelAggregator(
      contribute: Column,
      combine: String => Reduction)

  def run(
      g: SimpleGraph,
      maxRounds: Int,
      init: Column,
      sendToDst: Option[Column],
      sendToSrc: Option[Column],
      agg: Column => Column,
      update: (Column, Column) => Column,
      stopWhenNoChange: Boolean = false,
      numPartitions: Int = 0,
      checkpoint: CheckpointConfig = CheckpointConfig(),
      aggregators: Map[String, PregelAggregator] = Map.empty,
      updateWithAggregators:
        Option[(Column, Column, Map[String, Column]) => Column] = None)
      : DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val bcast = Strategy.smallEnoughToBroadcast(g.numVertices)
    // Persist a PRIVATE projection, not the caller's frame: persisting
    // g.edges directly and unpersisting it on exit would silently evict a
    // cache the caller shares (e.g. a memoized graph's edge frame).
    val edgeCols = g.edges.columns.toSeq
    val edges = {
      val own = g.edges.select(edgeCols.map(col): _*)
      (if (bcast) own else own.repartition(p, col("src"))).persist()
    }

    // Each aggregator's contribution is a state column, reduced by the
    // cut of every state (the initial one included).
    val reduced = aggregators.toSeq.map { case (n, a) =>
      (n, a.combine(s"_agg_$n"), a.contribute) }
    def contribute(df: DataFrame): DataFrame = df.select(
      col("*") +: reduced.map { case (_, r, c) => c.as(r.column) }: _*)

    val initState = contribute(g.vertices
      .select(col("vid"), init.as("state"))
      .repartition(p, col("vid")))

    val res = Iterate.run(
      initState, maxRounds,
      step = (state, prev) => {
        // Global aggregates of the state entering this superstep — the
        // reference's aggregated_value visibility (contributed at t,
        // readable at t+1; our state at round r IS the t=r-1 output).
        val aggVals: Map[String, Column] = reduced.map { case (n, r, _) =>
          // A missing value would be an UNTYPED lit(null) that silently
          // nulls every state through updateWithAggregators; fail loudly
          // instead — the program should coalesce its contribution to a
          // typed identity.
          require(prev.values.contains(r), s"pregel aggregator '$n' " +
            "combined to NULL (empty state or all-null contributions); " +
            "coalesce the contribution expression to a typed identity value")
          n -> lit(prev.values(r))
        }.toMap
        val toDst = sendToDst.map { m =>
          edges
            .join(Strategy.frontier(state.select(col("vid").as("src"),
              col("state").as("src_state")), bcast, -1L), "src")
            .select(col("dst").as("vid"), m.as("msg"))
            .where(col("msg").isNotNull)
        }
        val toSrc = sendToSrc.map { m =>
          edges
            .join(Strategy.frontier(state.select(col("vid").as("dst"),
              col("state").as("dst_state")), bcast, -1L), "dst")
            .select(col("src").as("vid"), m.as("msg"))
            .where(col("msg").isNotNull)
        }
        val msgs = (toDst.toSeq ++ toSrc.toSeq)
          .reduceOption(_ unionByName _)
          .map(_.groupBy("vid").agg(agg(col("msg")).as("agg_msg")))
          .getOrElse(spark.emptyDataFrame
            .select(lit(0L).as("vid"), lit(null).as("agg_msg")))
        val joined = state.join(msgs, Seq("vid"), "left")
        val newState = updateWithAggregators
          .map(f => f(col("state"), col("agg_msg"), aggVals))
          .getOrElse(update(col("state"), col("agg_msg")))
        contribute(joined.select(col("vid"), newState.as("state"),
          when(!(newState <=> col("state")), lit(1)).otherwise(lit(0))
            .as("_changed")))
      },
      stop = if (stopWhenNoChange) Iterate.unchanged else Iterate.fixedRounds,
      checkpoint = checkpoint,
      reduce = reduced.map(_._2))

    edges.unpersist()
    res.state.select("vid", "state")
  }

  /** FULL reference PageRank (dangling redistribution,
    * benchmarks/apps/pagerank/pagerank.h:143-192) expressed on the runner
    * with a double-SUM aggregator carrying the dangling mass — the
    * reference computes the same scalar with a global Sum over dangling
    * ranks per round (pagerank.h:123-125,190-192); apps.PageRank
    * pre-computes it as a driver-side closed-form recurrence. The two
    * must agree exactly, which is the aggregator surface's equivalence
    * oracle (PregelSpec + the g_pregel_pagerank_agg catalog entry reusing
    * the g_pagerank DuckDB unroll). */
  def pagerankPregelAggregated(g: SimpleGraph, delta: Double = 0.85,
      maxRounds: Int = 10): DataFrame = {
    val n = g.numVertices.toDouble
    val degMap = g.outDegrees.select(col("vid"), col("deg"))
    val gd = g.copy(vertices = g.vertices.select("vid").join(degMap, "vid"))
    run(
      gd,
      maxRounds,
      init = struct(lit(1.0 / n).as("rank"),
        col("deg").cast("long").as("deg")),
      sendToDst = Some(when(col("src_state.deg") > 0,
        col("src_state.rank") / col("src_state.deg"))),
      sendToSrc = None,
      agg = sum,
      update = (s, _) => s, // superseded by updateWithAggregators
      aggregators = Map("dangling" -> PregelAggregator(
        when(col("state.deg") === 0L, col("state.rank"))
          .otherwise(lit(0.0)),
        Sum)),
      updateWithAggregators = Some((state, msg, aggs) => {
        val base = lit((1.0 - delta) / n) +
          lit(delta) * aggs("dangling") / lit(n)
        struct(
          when(state.getField("deg") === 0L, base)
            .otherwise(lit(delta) * coalesce(msg, lit(0.0)) + base)
            .as("rank"),
          state.getField("deg").as("deg"))
      }))
      .select(col("vid"), col("state.rank").as("rank"))
  }

  /** The reference's Pregel SSSP variant (apps/pregel/sssp_pregel.h:45-84):
    * init dist = MAX (0 at the source on superstep 0), Compute takes the
    * min over incoming messages, and an UPDATED vertex relaxes its out
    * edges with dist + weight; vote_to_halt ends the run when no message
    * changes any distance. On the runner: agg = min combiner, update =
    * least(state, msg), stopWhenNoChange plays vote_to_halt — this is the
    * convergence-gated program shape (pagerankPregel below is the
    * fixed-round shape). Only vertices with a finite distance send
    * (null message = send nothing), so the unreached region stays silent
    * exactly like halted Pregel vertices.
    *
    * @return (vid, dist), dist = -1.0 when unreachable (the engine's
    *         portable sentinel for the reference's DBL_MAX). */
  def ssspPregel(g: SimpleGraph, source: Long,
      maxRounds: Int = 10000): DataFrame = {
    require(g.hasWeight, "ssspPregel needs a weight column")
    val inf = Double.MaxValue
    run(
      g,
      maxRounds,
      init = when(col("vid") === source, lit(0.0)).otherwise(lit(inf)),
      sendToDst = Some(when(col("src_state") < lit(inf),
        col("src_state") + col("weight"))),
      sendToSrc = None,
      agg = min,
      update = (state, msg) => least(state, coalesce(msg, state)),
      stopWhenNoChange = true)
      .select(col("vid"),
        when(col("state") === inf, lit(-1.0)).otherwise(col("state"))
          .as("dist"))
  }

  /** The reference's Pregel triangle counting (apps/pregel/tc_pregel.h:
    * 40-84): superstep 0 sends each vertex's out-neighbor ids to every
    * distinct neighbor; superstep 1 counts received ids that are its own
    * out-neighbors and halves the count. One runner round with an array
    * message expresses both supersteps: state = struct(sorted adjacency,
    * count), message = src's adjacency array, update = Σ per message
    * |msg ∩ own adjacency| / 2. This is the O(Σ deg²) Pregel formulation —
    * a UDF-surface demonstration; the engine's scalable triangle count is
    * apps.Triangles (degree-oriented, O(E + Δ) shuffle rows).
    *
    * @return (vid, triangles) — per-vertex triangle count. */
  def tcPregel(g: SimpleGraph): DataFrame = {
    // Distinct-neighbor relation (the reference dedups its send targets
    // across in+out edges); adjacency arrays sorted for determinism.
    val und = g.undirectedDedup
    val adj = und.groupBy(col("src").as("vid"))
      .agg(sort_array(collect_list(col("dst"))).as("adj"))
    val gd = g.copy(
      vertices = g.vertices.join(adj, Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("adj"), array().cast("array<bigint>")).as("adj")),
      edges = und)
    run(
      gd,
      maxRounds = 1,
      init = struct(col("adj"), lit(0L).as("cnt")),
      sendToDst = Some(col("src_state.adj")),
      sendToSrc = None,
      agg = collect_list,
      update = (state, msg) => struct(
        state.getField("adj").as("adj"),
        // each triangle is matched twice; FLOOR(x/2) keeps the long type
        // (the struct schema must stay stable for the change compare)
        floor(coalesce(
          aggregate(msg, lit(0L),
            (acc, m) => acc +
              size(array_intersect(m, state.getField("adj")))),
          lit(0L)) / lit(2L)).as("cnt")),
      stopWhenNoChange = false)
      .select(col("vid"), col("state.cnt").as("triangles"))
  }

  /** The reference's Pregel PageRank variant (apps/pregel/
    * pagerank_pregel.h:43-94): init 1/N, update d*Σmsgs + (1-d)/N, NO
    * dangling redistribution, fixed rounds, messages rank/outdeg along out
    * edges. Expressed on the generic runner as a living example. */
  def pagerankPregel(g: SimpleGraph, delta: Double = 0.85,
      maxRounds: Int = 10): DataFrame = {
    val n = g.numVertices.toDouble
    val degMap = g.outDegrees.select(col("vid").as("src"), col("deg"))
    val gd = g.copy(edges = g.edges.join(degMap, "src"))
    run(
      gd,
      maxRounds,
      init = lit(1.0 / n),
      sendToDst = Some(col("src_state") / col("deg")),
      sendToSrc = None,
      agg = sum,
      update = (state, msg) =>
        lit(delta) * coalesce(msg, lit(0.0)) + lit((1.0 - delta) / n))
      .select(col("vid"), col("state").as("rank"))
  }
}
