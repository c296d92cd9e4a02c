package graft.graph

import org.apache.spark.sql.{DataFrame, LineageCut, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** A "simple graph" in the reference's sense: one vertex set, one edge set,
  * at most one edge property (weight).
  *
  * Mirrors the capability of `gs::ArrowProjectedFragment`
  * (reference: analytical_engine/core/fragment/arrow_projected_fragment.h:336)
  * re-expressed as two Datasets. Columns are fixed:
  *   vertices: (vid: long [, ...state])
  *   edges:    (src: long, dst: long [, weight: double])
  *
  * `directed = false` means `edges` already materializes BOTH directions of
  * every undirected edge (the reference converts likewise on TO_UNDIRECTED:
  * python/graphscope/framework/dag_utils.py:513).
  */
final case class SimpleGraph(
    vertices: DataFrame,
    edges: DataFrame,
    directed: Boolean,
    /** caller guarantees: no self loops, no duplicate (src,dst) rows, and
      * (when undirected) exact symmetry — lets algorithms skip per-call
      * DISTINCTs over the edge table. */
    simpleEdges: Boolean = false) {

  def spark: SparkSession = vertices.sparkSession

  def hasWeight: Boolean = edges.columns.contains("weight")

  /** Memoized hash-partitioned + cached edge views, shared across
    * algorithm runs on this graph instance — the analogue of the
    * reference's one-time fragment build (edges are placed once,
    * every app run reuses the placement). Keyed by (tag, key, p);
    * cached columnar (compressed), materialized eagerly.
    *
    * A view already in place is used as it is: when `df` only selects or
    * renames columns of a cached frame whose partitioning is a hash of
    * `key` into `p` partitions (a [[graft.graphbuild.GraphBuilder]]
    * graph's edges, placed by `dst`, for the broadcast tier's `dir`
    * view), it is memoized without a second cached copy or a placement
    * job, and released with the edges.
    *
    * NOTE: run iterative apps with AQE off
    * (spark.sql.adaptive.enabled=false) — AQE re-plans cached relations
    * and loses their output partitioning, re-inserting a per-superstep
    * exchange that this placement exists to avoid. */
  @transient private lazy val prepCache =
    scala.collection.mutable.Map[(String, String, Int), DataFrame]()
  def preparedEdges(tag: String, df: => DataFrame, key: String, p: Int)
      : DataFrame = prepCache.synchronized {
    prepCache.getOrElseUpdate((tag, key, p), {
      val view = df
      if (SimpleGraph.placed(view, key, p)) view
      else {
        val d = view.repartition(p, col(key)).persist()
        d.count()
        d
      }
    })
  }

  /** Memoized cached out-degrees (vid, deg) partitioned by vid — several
    * apps touch degrees more than once per run, and each uncached access
    * re-aggregates the full edge table. */
  def preparedOutDegrees(p: Int): DataFrame =
    preparedEdges("outdeg", outDegrees, "vid", p)

  /** Memoized count of the vertices without out-edges (PageRank's
    * dangling count), per out-degree placement: every warm run asks for
    * it, and each count is a job. */
  @transient private lazy val danglingCache =
    scala.collection.mutable.Map[Int, Long]()
  def danglingVertices(p: Int): Long = danglingCache.synchronized {
    danglingCache.getOrElseUpdate(p,
      preparedOutDegrees(p).where(col("deg") === 0L).count())
  }

  /** The named edge views the superstep apps gather over, as
    * (memo tag, frame):
    *   dir  (src, dst) as stored;   dirw (src, dst, weight);
    *   rev  (src, dst) reversed;    und  [[undirectedDedup]];
    *   both [[bothDirections]].
    * A view that equals the stored edges takes the `dir` tag, so it is
    * placed and cached once. */
  private def edgeView(name: String): (String, DataFrame) = name match {
    case "dir" => ("dir", edges.select("src", "dst"))
    case "dirw" => ("dirw", edges.select("src", "dst", "weight"))
    case "rev" =>
      ("rev", edges.select(col("dst").as("src"), col("src").as("dst")))
    case "und" =>
      if (simpleEdges && !directed) edgeView("dir")
      else ("und", undirectedDedup)
    case "both" =>
      if (!directed) edgeView("dir")
      else ("both", bothDirections.select("src", "dst"))
    case other => throw new IllegalArgumentException(
      s"unknown edge view '$other' (dir, dirw, rev, und, both)")
  }

  /** Memoized CSR block packing of a named edge view (Strategy.CsrGather
    * tier): built and cached once per (view, p), like preparedEdges. Hub
    * srcs above EdgeBlocks.saltThreshold get their adjacency salted
    * across multiple pid slots (north rule: skew handling); the salt
    * table is cached alongside. */
  @transient private lazy val blockCache =
    scala.collection.mutable.Map[(String, Int), EdgeBlocks.CsrGraph]()
  def preparedBlocks(view: String, p: Int): EdgeBlocks.CsrGraph = {
    val (tag, df) = edgeView(view)
    blockCache.synchronized {
      blockCache.getOrElseUpdate((tag, p), EdgeBlocks.pack(df, p))
    }
  }

  /** The superstep gather of `combine` over a named edge view for one
    * app run ([[EdgeBlocks.superstep]]). The tier is decided here, once,
    * from the caller's vertex count; the view is placed (or packed into
    * blocks) on the first round and memoized on this graph. */
  def gather(view: String, combine: EdgeBlocks.Combine, numVertices: Long,
      p: Int): EdgeBlocks.Gather = {
    val (tag, df) = edgeView(view)
    EdgeBlocks.superstep(Strategy.tier(numVertices), combine, p,
      key => preparedEdges(tag, df, key, p), preparedBlocks(view, p))
  }

  /** Both-direction edge view, for algorithms that traverse in+out
    * (LoadStrategy::kBothOutIn). For undirected graphs edges are already
    * symmetric; for directed graphs union the reverse (no dedup — an edge
    * present in both directions counts twice, matching in+out neighbor
    * multisets). */
  def bothDirections: DataFrame =
    if (!directed) edges
    else edges.unionByName(SimpleGraph.reverseEdges(edges))

  /** Undirected view with deduplicated neighbor sets (for WCC, k-core,
    * triangles): symmetric closure, self-loops dropped, multi-edges merged. */
  def undirectedDedup: DataFrame =
    if (simpleEdges && !directed) edges.select("src", "dst")
    else {
      val base = edges.select("src", "dst")
        .where(col("src") =!= col("dst"))
      base.unionByName(
        base.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    }

  /** Canonical (src < dst) deduplicated undirected edge list. */
  def canonicalPairs: DataFrame =
    if (simpleEdges && !directed)
      edges.select("src", "dst").where(col("src") < col("dst"))
    else {
      val e = edges.select("src", "dst").where(col("src") =!= col("dst"))
      e.select(
          least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct()
    }

  /** Out-degree per vertex (vid, deg) — vertices with no out edges get 0.
    * Reference keeps the same per-vertex degree array
    * (benchmarks/apps/pagerank/pagerank.h:106-109). */
  def outDegrees: DataFrame = {
    val d = edges.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    vertices.select("vid").join(d, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("deg"), lit(0L)).as("deg"))
  }

  /** In-degree per vertex. */
  def inDegrees: DataFrame = {
    val d = edges.groupBy(col("dst").as("vid")).agg(count(lit(1)).as("deg"))
    vertices.select("vid").join(d, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("deg"), lit(0L)).as("deg"))
  }

  /** Degree on the deduplicated undirected view (neighbor-set size). */
  def undirectedDegrees: DataFrame = {
    val d = undirectedDedup.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("deg"))
    vertices.select("vid").join(d, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("deg"), lit(0L)).as("deg"))
  }

  /** |V|, counted once per graph instance (memoized like the placed edge
    * views): every app run asks for it, and each uncached count is a job. */
  @transient lazy val numVertices: Long = vertices.count()
  def numEdges: Long = edges.count()

  /** COPY_GRAPH reversed (dag_utils.py:461 / grape_instance.cc:604). */
  def reverse: SimpleGraph =
    copy(edges = SimpleGraph.reverseEdges(edges))

  /** TO_UNDIRECTED (dag_utils.py:513): symmetric closure, deduped. */
  def toUndirected: SimpleGraph =
    if (!directed) this
    else {
      val w = if (hasWeight) Seq(col("weight")) else Nil
      val e = edges.select(col("src") +: col("dst") +: w: _*)
      val r = e.select(col("dst").as("src") +: col("src").as("dst") +: w: _*)
      copy(edges = e.unionByName(r).dropDuplicates("src", "dst"),
        directed = false)
    }

  /** TO_DIRECTED (dag_utils.py:490 / grape_instance.cc:619): reinterpret
    * an undirected graph as directed — the symmetric closure is already
    * materialized both ways (each undirected edge becomes the two
    * directed arcs, matching DynamicFragment's conversion). */
  def toDirected: SimpleGraph =
    if (directed) this else copy(directed = true, simpleEdges = false)

  /** CLEAR_EDGES (dag_utils.py:584 / grape_instance.cc:730). */
  def clearEdges: SimpleGraph =
    copy(edges = edges.limit(0), simpleEdges = true)

  /** CLEAR_GRAPH (dag_utils.py:562 / grape_instance.cc:704). */
  def clearGraph: SimpleGraph =
    copy(vertices = vertices.limit(0), edges = edges.limit(0),
      simpleEdges = true)

  /** The lineage cut this graph instance owns (the built dictionary of a
    * [[graft.graphbuild.GraphBuilder]] graph); [[unload]] releases it. A
    * derived graph (`copy`) owns none. */
  @transient @volatile private var ownedCut: Option[DataFrame] = None
  private[graft] def owning(cut: DataFrame): SimpleGraph = {
    ownedCut = Some(cut)
    this
  }

  /** UNLOAD_GRAPH (dag_utils.py:651 / grape_instance.cc:119): release
    * every cached/materialized view this graph instance holds, and the
    * lineage cut it owns. */
  def unload(): Unit = {
    prepCache.synchronized {
      prepCache.values.foreach(_.unpersist())
      prepCache.clear()
    }
    blockCache.synchronized {
      blockCache.values.foreach(_.unpersist())
      blockCache.clear()
    }
    vertices.unpersist()
    edges.unpersist()
    ownedCut.foreach(LineageCut.release)
    ownedCut = None
  }

  /** INDUCE_SUBGRAPH by vertex list (dag_utils.py:606 /
    * grape_instance.cc:659): keep edges with both endpoints in `keep`. */
  def induceSubgraph(keep: DataFrame): SimpleGraph = {
    val k = keep.select(col(keep.columns.head).as("vid")).distinct()
    val v2 = vertices.join(k, Seq("vid"), "left_semi")
    val e2 = edges
      .join(k.select(col("vid").as("src")), Seq("src"), "left_semi")
      .join(k.select(col("vid").as("dst")), Seq("dst"), "left_semi")
    SimpleGraph(v2, e2, directed)
  }

  /** ADD_COLUMN (dag_utils.py:783 / grape_instance.cc:539): attach an
    * algorithm result column to the vertices. */
  def addColumn(result: DataFrame): SimpleGraph =
    copy(vertices = vertices.join(result, Seq("vid"), "left"))
}

object SimpleGraph {
  /** The stored rows `df` reads through column selections and renames
    * only — a cached frame's relation or a lineage cut's leaf — if any. */
  private[graph] def storedLeaf(df: DataFrame): Option[LogicalPlan] = {
    def leaf(plan: LogicalPlan): Option[LogicalPlan] = plan match {
      case _: InMemoryRelation | _: LogicalRDD => Some(plan)
      case Project(list, child) if list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } => leaf(child)
      case _ => None
    }
    leaf(df.queryExecution.optimizedPlan)
  }

  /** Whether `df` reads a cached frame through column selections and
    * renames only, and its rows are hash-partitioned by `key` into `p`
    * partitions. */
  private def placed(df: DataFrame, key: String, p: Int): Boolean = {
    val qe = df.queryExecution
    storedLeaf(df).exists(_.isInstanceOf[InMemoryRelation]) &&
      (qe.executedPlan.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == p &&
          h.expressions.size == 1 &&
          qe.executedPlan.output.exists(a =>
            a.name == key && a.semanticEquals(h.expressions.head))
        case _ => false
      })
  }

  private[graph] def reverseEdges(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("weight")) Seq(col("weight")) else Nil
    edges.select(col("dst").as("src") +: col("src").as("dst") +: w: _*)
  }

  /** Build from an arbitrary edge DataFrame; vertex set = endpoints. */
  def fromEdges(edges: DataFrame, directed: Boolean): SimpleGraph = {
    val verts = edges.select(col("src").as("vid"))
      .unionByName(edges.select(col("dst").as("vid"))).distinct()
    SimpleGraph(verts, edges, directed)
  }
}
