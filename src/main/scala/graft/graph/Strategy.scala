package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Driver-chosen physical strategies for the superstep joins
  * (SURVEY.md §4.1: "broadcast small frontiers / high-degree deltas").
  *
  * The per-round message join is `edges ⋈ vertexState`. Three tiers, chosen
  * by vertex count (the state-side size):
  *
  *   1. [[Broadcast]] — state fits in an executor: broadcast it; each round
  *      is a map-side hash join over the cached edges plus one tiny
  *      exchange of partial aggregates.
  *   2. [[Shuffle]] — state too big to broadcast: co-partitioned shuffle
  *      join (edges pre-partitioned once by `src`, state produced
  *      partitioned by `vid`, so only the state side moves per round).
  *   3. [[CsrGather]] — at 10^9+ vertices even re-sorting the state rows
  *      against the edge relation each round dominates: pack edges once
  *      into partition-local CSR blocks ([[EdgeBlocks]]) and ship P
  *      state *bundles* per round (a P-row join), scanning adjacency
  *      arrays locally. Mirrors the reference fragment's CSR layout
  *      (arrow_projected_fragment.h:431-470).
  *
  * [[EdgeBlocks.superstep]] plans each tier's gather. Test overrides:
  * -Dgraft.force.shuffle pins tier 2, -Dgraft.force.csr pins tier 3.
  */
object Strategy {

  sealed trait Tier
  case object Broadcast extends Tier
  case object Shuffle extends Tier
  case object CsrGather extends Tier

  /** ~16 bytes/vertex state row -> 64M verts ~ 1 GiB broadcast; stay an
    * order of magnitude under that by default. */
  val maxBroadcastVertices: Long = 8L * 1000 * 1000

  /** Above this, prefer the CSR block gather over the shuffle join. */
  val maxShuffleVertices: Long = 1L * 1000 * 1000 * 1000

  private def forceShuffle: Boolean =
    sys.props.contains("graft.force.shuffle")

  private def forceCsr: Boolean = sys.props.contains("graft.force.csr")

  def tier(numVertices: Long): Tier =
    if (forceCsr) CsrGather
    else if (forceShuffle) Shuffle
    else if (numVertices <= maxBroadcastVertices) Broadcast
    else if (numVertices <= maxShuffleVertices) Shuffle
    else CsrGather

  def smallEnoughToBroadcast(numVertices: Long): Boolean =
    tier(numVertices) == Broadcast

  /** Frontier deltas at most this many rows get broadcast even in the
    * Shuffle tier (~16 bytes/row -> 64 MiB at the default). Override with
    * -Dgraft.frontier.broadcast.max (tests force it low/high). */
  def maxBroadcastFrontier: Long =
    sys.props.get("graft.frontier.broadcast.max").map(_.toLong)
      .getOrElse(4L * 1000 * 1000)

  /** Hint the frontier side of an edges-join (north rule: "broadcast of
    * high-degree frontier deltas"). The Shuffle tier moves only the
    * frontier per round — but late SSSP/BFS/WCC rounds shrink the
    * frontier to a sliver, and with AQE off on a derived, checkpointed
    * frame Spark will NOT discover that on its own; the superstep driver
    * already knows the exact delta size from the previous round's
    * convergence count, so the hint costs zero extra jobs.
    * `prevChanged` = -1 means unknown -> hint only when `broadcastState`
    * (the whole state is small). */
  def frontier(df: DataFrame, broadcastState: Boolean, prevChanged: Long)
      : DataFrame =
    if (broadcastState ||
        (prevChanged >= 0 && prevChanged <= maxBroadcastFrontier))
      broadcast(df)
    else df
}
