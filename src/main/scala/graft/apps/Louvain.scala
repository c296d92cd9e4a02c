package graft.apps

import graft.graph.{EdgeBlocks, SimpleGraph, Strategy}
import graft.pregel.Iterate
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.LineageCut.Sum
import org.apache.spark.sql.functions._

/** Louvain community detection — modularity maximization by iterated
  * local moves + graph contraction (reference:
  * analytical_engine/apps/pregel/louvain/louvain.h + louvain_app_base.h:43-90:
  * phase-1 synchronous local move rounds with aggregator-summed progress,
  * phase-2 compression, repeat; exposed as graphscope.louvain,
  * python/graphscope/analytical/app/louvain.py).
  *
  * Spark formulation (SURVEY.md §2.2 sketch): each phase-1 round is two
  * shuffles — community aggregates `groupBy(comm).agg(sum(k))` and
  * neighbor-community weights `groupBy(src, dstComm).agg(sum(w))` — then a
  * best-move argmax per vertex; phase-2 contraction is a groupBy over
  * community-mapped endpoints. All weights stay integral through
  * contraction, so modularity-gain comparisons are exact IEEE arithmetic on
  * exact integers — results are partition-count invariant (the in-JVM
  * determinism analogue of the reference's synchronized Pregel rounds).
  *
  * Determinism devices (the reference's louvain.h:change aggregator +
  * vertex-id tiebreaks play the same role):
  *   - best target community = max gain, ties to the SMALLEST community id;
  *   - a vertex moves only on rounds matching the move direction
  *     (even rounds: to a smaller community id; odd: to a larger), which
  *     breaks two-vertex swap oscillation without randomization;
  *   - final labels canonicalized to the minimum member vid.
  *
  * Self-loops produced by contraction are carried as a per-node `selfw`
  * (2x intra-community weight) — part of k(v) and Σtot but never a move
  * candidate edge.
  */
object Louvain {

  /** @return (vid, community) — community = min member vid. */
  def run(
      g: SimpleGraph,
      maxLevels: Int = 5,
      maxRoundsPerLevel: Int = 20): DataFrame = {
    // Level-0 working graph: symmetric deduped unit-weight edges.
    var edges = LineageCut.localCheckpoint(g.undirectedDedup
      .select(col("src"), col("dst"), lit(1.0).as("w"))).df
    // The cut's row count is the level's node count.
    var nodes = LineageCut.localCheckpoint(
      g.vertices.select(col("vid"), lit(0.0).as("selfw")))
    // overall: original vid -> current community (a node id of the level).
    var overall = LineageCut.localCheckpoint(
      g.vertices.select(col("vid"), col("vid").as("comm"))).df

    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      level += 1
      val assign = onePhase(edges, nodes, maxRoundsPerLevel)
      val nComms = assign.select("comm").distinct().count()
      overall = LineageCut.localCheckpoint(overall
        .join(assign.select(col("vid").as("comm"), col("comm").as("nc")),
          "comm")
        .select(col("vid"), col("nc").as("comm"))).df
      if (nComms == nodes.rows) done = true
      else {
        // Contract: communities become nodes; symmetric inter edges kept,
        // intra weight (counted twice by symmetry) + member selfw folds
        // into the new node's selfw.
        val e2 = edges
          .join(assign.select(col("vid").as("src"), col("comm").as("cs")),
            "src")
          .join(assign.select(col("vid").as("dst"), col("comm").as("cd")),
            "dst")
        val inter = e2.where(col("cs") =!= col("cd"))
          .groupBy(col("cs").as("src"), col("cd").as("dst"))
          .agg(sum(col("w")).as("w"))
        val intra = e2.where(col("cs") === col("cd"))
          .groupBy(col("cs").as("vid")).agg(sum(col("w")).as("iw"))
        val selfSum = nodes.df
          .join(assign, "vid")
          .groupBy(col("comm").as("vid")).agg(sum(col("selfw")).as("sw"))
        edges = LineageCut.localCheckpoint(inter).df
        nodes = LineageCut.localCheckpoint(
          selfSum.join(intra, Seq("vid"), "left")
            .select(col("vid"),
              (col("sw") + coalesce(col("iw"), lit(0.0))).as("selfw")))
      }
    }
    // Canonical labels: min original member vid per community.
    val canon = overall.groupBy("comm").agg(min(col("vid")).as("community"))
    overall.join(canon, "comm").select("vid", "community")
  }

  /** Phase 1 on one working graph: synchronous local-move rounds until no
    * vertex moves. @return (vid, comm). */
  private def onePhase(edges: DataFrame, nodes: LineageCut.Cut,
      maxRounds: Int): DataFrame = {
    // k(v) = weighted degree incl. selfw; 2m = sum k, reduced by k's cut.
    val k = LineageCut.localCheckpoint(nodes.df
      .join(edges.groupBy(col("src").as("vid")).agg(sum(col("w")).as("kw")),
        Seq("vid"), "left")
      .select(col("vid"),
        (coalesce(col("kw"), lit(0.0)) + col("selfw")).as("k")),
      Seq(Sum("k")))
    // no nodes (no 2m at all) or no edges: nothing can move
    val m2 = k.values.get(Sum("k")).map(_.doubleValue).getOrElse(0.0)
    if (m2 == 0.0) return nodes.df.select(col("vid"), col("vid").as("comm"))

    val spark = edges.sparkSession
    val tier = Strategy.tier(k.rows)
    // commTot is one row per community (≤ one per vertex, shrinking every
    // round) — on the giant-community tail of phase 1 the scored join
    // keyed by community id concentrates on few keys, so broadcast the
    // community-totals side whenever the working graph is small enough
    // (same tier threshold as the superstep apps); past that size the
    // sort-merge join with AQE-less fixed shape is the scale-safe default.
    val hintCommTot = tier == Strategy.Broadcast
    val p = spark.sessionState.conf.numShufflePartitions
    // w(v -> c) per round: a label-sum gather of the neighbors' community
    // over the weighted working edges. The working graph changes every
    // level, so its CSR blocks (packed only at the CsrGather tier — level
    // 0 of a 10^9+-vertex link graph) live for this phase: the weighted
    // edge relation then never moves or re-sorts per round, and only
    // (vid, comm) bundles and (vid, comm, w) partials are on the wire.
    // Giant-community hubs are exactly the skew Louvain concentrates as
    // phase 1 progresses, so the blocks are hub-salted like every CSR
    // build. Tier equality is EXACT, not approximate: Louvain weights
    // stay integral through contraction, so per-block partial sums hit
    // the same integer-valued doubles in any addition order (within
    // 2^53) and the move argmax is unchanged (LouvainSpec forces each
    // tier and asserts identical assignments).
    val wEdges = edges.select(col("src"), col("dst"), col("w").as("weight"))
    var packed: Option[EdgeBlocks.CsrGraph] = None
    val nbrGather = EdgeBlocks.superstep(tier, EdgeBlocks.Combine.LabelSum,
      p, _ => wEdges, {
        val b = EdgeBlocks.pack(wEdges, p); packed = Some(b); b })
    // Moves are parity-gated (odd rounds move only to smaller comm ids,
    // even only to larger), so one zero-move round only proves the ALLOWED
    // direction is exhausted; terminate after two consecutive zero-move
    // rounds (one of each parity).
    val res = Iterate.run(
      k.df.select(col("vid"), col("vid").as("comm"), col("k")),
      maxRounds,
      step = (assign, prev) => {
        val commTot = assign.groupBy("comm").agg(sum(col("k")).as("tot"))
        // w(v -> c) over real neighbor edges. The edges are symmetric, so
        // gathering src labels to dst equals gathering dst labels to src.
        val nbrW =
          nbrGather(assign.select(col("vid"), col("comm").as("value")), -1L)
            .select(col("vid"), col("label").as("c"), col("msg").as("wvc"))
        // Ensure the current community is always a candidate (wvc = 0 when
        // v has no neighbor inside it).
        val cands = nbrW
          .unionByName(assign.select(col("vid"), col("comm").as("c"),
            lit(0.0).as("wvc")))
          .groupBy("vid", "c").agg(max(col("wvc")).as("wvc"))
        // 0: move to larger ids; 1: to smaller
        val parity = (prev.iteration + 1) % 2
        val scored = cands
          .join(assign.select(col("vid"), col("comm").as("cur"), col("k")),
            "vid")
          // Candidate set = current community + the parity-ALLOWED
          // direction only, so the argmax can never be masked by a blocked
          // candidate (a round where every vertex's best global candidate
          // points the blocked way must not read as converged).
          .where(col("c") === col("cur") ||
            (if (parity == 1) col("c") < col("cur")
             else col("c") > col("cur")))
          .join({
            val ct = commTot.select(col("comm").as("c"), col("tot"))
            if (hintCommTot) broadcast(ct) else ct
          }, "c")
          .select(col("vid"), col("c"), col("cur"), col("k"),
            (col("wvc") - col("k") *
              (col("tot") - when(col("c") === col("cur"), col("k"))
                .otherwise(lit(0.0))) / lit(m2)).as("score"))
        // Best = max score among allowed candidates, ties to smallest
        // community id; compare against the current community's score.
        val best = scored.groupBy("vid").agg(
          max(struct(col("score"), (-col("c")).as("nc"))).as("b"),
          max(when(col("c") === col("cur"), col("score"))).as("curScore"))
          .select(col("vid"), (-col("b.nc")).as("bestC"),
            col("b.score").as("bestScore"), col("curScore"))
        assign.join(best, "vid").select(
          col("vid"),
          when(col("bestC") =!= col("comm") &&
            col("bestScore") > col("curScore"),
            col("bestC")).otherwise(col("comm")).as("comm"),
          col("k"),
          when(col("bestC") =!= col("comm") &&
            col("bestScore") > col("curScore"), lit(1L))
            .otherwise(lit(0L)).as("_changed"))
      },
      stop = ms => ms.size >= 2 && ms.takeRight(2).forall(_.changed == 0L))
    packed.foreach(_.unpersist())
    res.state.select("vid", "comm")
  }

  /** Modularity of an assignment on the ORIGINAL graph:
    * Q = Σ_c [ Σin(c)/2m - (Σtot(c)/2m)^2 ] with unit edge weights.
    * For tests and convergence metrics. */
  def modularity(g: SimpleGraph, assign: DataFrame): Double = {
    val edges = g.undirectedDedup.select(col("src"), col("dst"))
    val deg = edges.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).cast("double").as("k"))
    val m2 = deg.agg(sum(col("k"))).head().getDouble(0)
    if (m2 == 0.0) return 0.0
    val a = assign.select(col("vid"), col("community").as("c"))
    val intra = edges
      .join(a.select(col("vid").as("src"), col("c").as("cs")), "src")
      .join(a.select(col("vid").as("dst"), col("c").as("cd")), "dst")
      .where(col("cs") === col("cd"))
      .count().toDouble // symmetric edges: already 2x intra pairs
    val totSq = deg.join(a, "vid").groupBy("c").agg(sum(col("k")).as("tot"))
      .agg(sum(col("tot") * col("tot"))).head().getDouble(0)
    intra / m2 - totSq / (m2 * m2)
  }

  /** Modularity of an assignment as an EXACT integer rational: with unit
    * edge weights every term of Q is a ratio of integers, so
    *   Q = (i2*m2 - s) / m2^2
    * where i2 = symmetric intra-community edge rows (= 2*Σin), m2 = total
    * symmetric edge rows (= 2m = Σ degrees), s = Σ_c (Σtot(c))^2 — all
    * BIGINTs. An independent engine (DuckDB, in the driver's oracle) can
    * recompute the identical two integers from the same edge list and
    * assignment with a hash-exact compare — no float aggregation-order
    * noise. Overflow bound: m2^2 and i2*m2 stay in-range to m2 ~ 3e9
    * symmetric edges (long max 9.2e18); past that compute the ratio in
    * DECIMAL(38,0). Returns (q_num, q_den), (0, 1) on an empty graph. */
  def modularityExact(g: SimpleGraph, assign: DataFrame): (Long, Long) = {
    val edges = g.undirectedDedup.select(col("src"), col("dst"))
    val deg = edges.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("k"))
    val m2 = deg.agg(sum(col("k"))).head().getLong(0)
    if (m2 == 0L) return (0L, 1L)
    val a = assign.select(col("vid"), col("community").as("c"))
    val i2 = edges
      .join(a.select(col("vid").as("src"), col("c").as("cs")), "src")
      .join(a.select(col("vid").as("dst"), col("c").as("cd")), "dst")
      .where(col("cs") === col("cd"))
      .count()
    val s = deg.join(a, "vid").groupBy("c").agg(sum(col("k")).as("tot"))
      .agg(sum(col("tot") * col("tot"))).head().getLong(0)
    (i2 * m2 - s, m2 * m2)
  }
}
