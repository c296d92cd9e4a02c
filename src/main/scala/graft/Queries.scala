package graft

import graft.apps._
import graft.graph.SimpleGraph
import graft.graphbuild.CoPurchase
import org.apache.spark.sql.{DataFrame, LineageCut, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-facing query catalog: every entry has a DataFrame
  * implementation here and (when SQL-expressible) a DuckDB oracle in
  * graft.oracle.OracleSql. Column names and rounding MUST stay in lockstep
  * with the oracle (the driver hash-compares values under sorted column
  * names). */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Per-vertex triangle counts, memoized per (session, dir) — shared by
    * g_triangles, g_clustering and g_transitivity. Stopped-session entries
    * are evicted on access (bounded memoization, same as CoPurchase). */
  private val triCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()
  private def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triCache.synchronized {
      triCache.filterInPlace { case ((s, _), _) =>
        !s.sparkContext.isStopped }
      triCache.getOrElseUpdate((spark, dir),
        Triangles.run(CoPurchase.graph(spark, dir)))
    }

  /** Louvain assignment, memoized per (session, dir) — shared by g_louvain
    * and g_louvain_check (the self-check must not pay a second run). */
  private val louvainCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()
  private def louvainAssign(spark: SparkSession, dir: String): DataFrame =
    louvainCache.synchronized {
      louvainCache.filterInPlace { case ((s, _), _) =>
        !s.sparkContext.isStopped }
      louvainCache.getOrElseUpdate((spark, dir),
        // capped levels/rounds for the catalog entries: local moves
        // saturate in the first rounds on this graph; the driver budget is
        // shared by ~56 queries (API defaults stay higher for real runs)
        LineageCut.localCheckpoint(Louvain.run(CoPurchase.graph(spark, dir),
          maxLevels = 2, maxRoundsPerLevel = 6)).df)
    }

  // ---------- graph queries (part co-purchase graph) ----------

  def degree(spark: SparkSession, dir: String): DataFrame =
    CoPurchase.graph(spark, dir).outDegrees
      .select(col("vid").cast("long").as("vid"),
        col("deg").cast("long").as("degree"))

  def pagerank(spark: SparkSession, dir: String): DataFrame =
    PageRank.run(CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"),
        round(col("rank"), 6).as("pr"))

  def wcc(spark: SparkSession, dir: String): DataFrame =
    WCC.run(CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"),
        col("comp").cast("long").as("comp"))

  /** Driver-visible contract for incremental WCC
    * (WCC.runIncremental): hash-split the co-purchase edges ~80/20 into
    * base + delta; labels from runIncremental(WCC(base), delta) — which
    * never re-touches the base edge set — must equal the full-graph WCC
    * exactly on EVERY vertex. Emits ok=1. */
  def gWccIncrCheck(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val edges = g.edges.select(col("src"), col("dst"))
    val bucket = pmod(xxhash64(col("src"), col("dst")), lit(5))
    val delta = LineageCut.localCheckpoint(edges.where(bucket === 0)).df
    val base = edges.where(bucket =!= 0)
    val prev = LineageCut.localCheckpoint(WCC.run(graft.graph.SimpleGraph(
      g.vertices, base, directed = false))).df
    val incr = WCC.runIncremental(prev, delta)
    val full = wcc(spark, dir)
    val mismatches = incr
      .select(col("vid"), col("comp").cast("long").as("ic"))
      .join(full.select(col("vid"), col("comp").as("fc")),
        Seq("vid"), "full")
      .where(col("ic").isNull || col("fc").isNull ||
        col("ic") =!= col("fc"))
      .count()
    spark.range(1)
      .select((if (mismatches == 0) lit(1L) else lit(0L)).as("ok"))
  }

  /** Driver-visible contract for incremental triangle counting
    * (Triangles.runIncremental): hash-split the co-purchase edges ~80/20
    * into base + delta; counts updated from the delta-edge closures must
    * equal the full-graph recount exactly on every vertex. Emits ok=1. */
  def gTriIncrCheck(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val edges = g.edges.select(col("src"), col("dst"))
    val bucket = pmod(xxhash64(col("src"), col("dst")), lit(5))
    val delta = LineageCut.localCheckpoint(edges.where(bucket === 0)).df
    val base = LineageCut.localCheckpoint(edges.where(bucket =!= 0)).df
    val prev = Triangles.run(graft.graph.SimpleGraph(
      g.vertices, base, directed = false))
    val incr = Triangles.runIncremental(prev, base, delta)
    val full = triangleCounts(spark, dir)
    val mismatches = incr
      .select(col("vid"), col("triangles").as("ic"))
      .join(full.select(col("vid"),
        col("triangles").cast("long").as("fc")), Seq("vid"), "full")
      .where(coalesce(col("ic"), lit(0L)) =!= coalesce(col("fc"), lit(0L)))
      .count()
    spark.range(1)
      .select((if (mismatches == 0) lit(1L) else lit(0L)).as("ok"))
  }

  def cdlp(spark: SparkSession, dir: String): DataFrame =
    CDLP.run(CoPurchase.graph(spark, dir), maxRound = 10)
      .select(col("vid").cast("long").as("vid"),
        col("label").cast("long").as("label"))

  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(spark, dir)
      .select(col("vid").cast("long").as("vid"),
        col("triangles").cast("long").as("triangles"))

  def clustering(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    triangleCounts(spark, dir).join(g.undirectedDegrees, "vid")
      .select(col("vid").cast("long").as("vid"),
        when(col("deg") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles").cast("double")
            / (col("deg") * (col("deg") - lit(1L))).cast("double"))
          .as("coeff"))
  }

  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val ts = triangleCounts(spark, dir)
      .agg(sum(col("triangles")).cast("double").as("tsum"))
    val ws = g.undirectedDegrees
      .agg((sum(col("deg") * (col("deg") - lit(1L))).cast("double")
        / lit(2.0)).as("wsum"))
    ts.crossJoin(ws)
      .select((col("tsum") / col("wsum")).as("transitivity"))
  }

  def degreeCentrality(spark: SparkSession, dir: String): DataFrame =
    Centrality.degree(CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"), col("centrality"))

  private def minVid(g: SimpleGraph): Long =
    g.vertices.agg(min(col("vid"))).head().getLong(0)

  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    BFS.run(g, minVid(g))
      .select(col("vid").cast("long").as("vid"),
        col("depth").cast("long").as("depth"))
  }

  def sssp(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.weighted(CoPurchase.graph(spark, dir))
    SSSP.run(g, minVid(g)).select(col("vid").cast("long").as("vid"),
      col("dist"))
  }

  def kcore(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    KCore.run(CoPurchase.graph(spark, dir), k)
      .select(col("vid").cast("long").as("vid"),
        col("in_core").cast("long").as("in_core"))

  // Catalog entries pin tolerance = 0 (exactly maxRound rounds) so the
  // driver-side DuckDB oracle can unroll the identical fixed recurrence;
  // tolerance-gated variants remain the API default and are covered by
  // in-JVM oracles in ScalaTest.

  def hits(spark: SparkSession, dir: String): DataFrame =
    HITS.run(CoPurchase.graph(spark, dir), tolerance = 0.0, maxRound = 15)
      .select(col("vid").cast("long").as("vid"),
        round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))

  def eigenvector(spark: SparkSession, dir: String): DataFrame =
    Centrality.eigenvector(CoPurchase.graph(spark, dir),
      tolerance = 0.0, maxRound = 15)
      .select(col("vid").cast("long").as("vid"),
        round(col("centrality"), 6).as("centrality"))

  def katz(spark: SparkSession, dir: String): DataFrame =
    Centrality.katz(CoPurchase.graph(spark, dir),
      tolerance = 0.0, maxRound = 15)
      .select(col("vid").cast("long").as("vid"),
        round(col("centrality"), 6).as("centrality"))

  def avgClustering(spark: SparkSession, dir: String): DataFrame =
    clustering(spark, dir)
      .agg(round(avg(col("coeff")), 6).as("avg_clustering"))

  def louvain(spark: SparkSession, dir: String): DataFrame =
    louvainAssign(spark, dir)
      .select(col("vid").cast("long").as("vid"),
        col("community").cast("long").as("community"))

  /** Driver-visible Louvain self-check (the assignment itself is
    * label-set-valued and not SQL-replayable): one row ok=1 iff the
    * modularity of the capped run clears every DEGENERATE baseline
    * computed on the same graph by a margin — all-singletons (every
    * vertex its own community; Q slightly negative) and
    * one-big-community (Q exactly 0) — rather than an absolute constant
    * calibrated at one scale factor. The co-purchase graph is dense and
    * near-random (avg degree >100), so max Q is inherently small:
    * measured Q=0.049 at sf0.01 under the capped run vs baselines ≤0,
    * leaving ~2.5x headroom over the 0.02 margin. Constant-row oracle
    * pattern of eCosNearDup. */
  def louvainCheck(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val assign = louvainAssign(spark, dir)
    val q = Louvain.modularity(g, assign)
    // Exact-rational replay of the SAME assignment: the float Q above
    // must agree with the independently derived integer rational
    // (different joins, integer arithmetic) to 1e-9 — so the scalar the
    // floor judges is itself replay-verified, not just bounded. The
    // modularity computation as such is DuckDB-replay-verified
    // end-to-end by g_louvain_q on the deterministic CDLP assignment.
    val (qNum, qDen) = Louvain.modularityExact(g, assign)
    val replayOk = math.abs(q - qNum.toDouble / qDen) <= 1e-9
    val qSingletons = Louvain.modularity(g,
      g.vertices.select(col("vid"), col("vid").as("community")))
    val qOneBig = 0.0 // Σin/2m = 1 and (Σtot/2m)^2 = 1 by definition
    val floor = math.max(qSingletons, qOneBig) + 0.02
    spark.range(1).select(
      lit(if (q >= floor && replayOk) 1L else 0L).as("ok"))
  }

  /** g_louvain_q: modularity as a DuckDB-replayable exact integer
    * rational. The Louvain assignment itself is not SQL-expressible, so
    * this row verifies the MODULARITY computation — the scalar
    * g_louvain_check trusts the JVM for — on the deterministic CDLP-2
    * assignment, which the driver's oracle replays exactly (the same
    * unrolled chain that makes g_cdlp all-green) and then recomputes
    * both integers from the same edge list. Hash-exact: no floats.
    * 2 rounds, not the catalog's 10: CDLP on the dense near-random
    * co-purchase graph collapses toward one label by round ~4 (measured:
    * 1 community at sf0.001, 2 at sf0.01), and a one-community Q is
    * identically 0 — vacuous. At 2 rounds the assignment still has 42
    * communities at the sf0.01 driver gate, so every CTE of the replay
    * (intra-edge join, per-community degree sums) must be right. */
  def louvainQ(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val assign = CDLP.run(g, maxRound = 2)
      .select(col("vid"), col("label").as("community"))
    val (qNum, qDen) = Louvain.modularityExact(g, assign)
    spark.range(1).select(
      lit(qNum).as("q_num"), lit(qDen).as("q_den"))
  }

  def ssspPath(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.weighted(CoPurchase.graph(spark, dir))
    SSSP.runWithParents(g, minVid(g))
      .select(col("vid").cast("long").as("vid"), col("dist"),
        col("parent").cast("long").as("parent"))
  }

  def ssspHasPath(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val (lo, hi) = {
      val r = g.vertices.agg(min(col("vid")), max(col("vid"))).head()
      (r.getLong(0), r.getLong(1))
    }
    SSSP.hasPath(g, lo, hi)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("has_path"))
  }

  /** sssp_average_length, sampled over the 3 smallest vids (see
    * SSSP.averageLength; rounding at 6 decimals — a cross-row float sum). */
  def ssspAvgLength(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.weighted(CoPurchase.graph(spark, dir))
    val srcs = g.vertices.orderBy(col("vid")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    SSSP.averageLength(g, srcs)
      .select(round(col("avg_length"), 6).as("avg_length"))
  }

  def bfsParents(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    BFS.runWithParents(g, minVid(g))
      .select(col("vid").cast("long").as("vid"),
        col("depth").cast("long").as("depth"),
        col("parent").cast("long").as("parent"))
  }

  /** LPA-U2I over the bipartite customer->part purchase graph (weight =
    * quantity), 2 features with deterministic pin/seed init — mirrors
    * OracleSql.lpaU2I exactly (reference: apps/lpa/lpa_u2i.h). */
  def lpaU2I(spark: SparkSession, dir: String): DataFrame = {
    val users = t(spark, dir, "customer").select(
      col("c_custkey").as("vid"),
      array(
        when(col("c_custkey") % 4 === 0, lit(1.0))
          .when(col("c_custkey") % 4 === 1, lit(0.0))
          .otherwise(lit(0.5)),
        when(col("c_custkey") % 5 === 0, lit(1.0)).otherwise(lit(0.3)))
        .as("features"))
    val edges = t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"),
        col("l_quantity").as("weight"))
    LPAU2I.run(users, edges, maxRound = 5).select(
      col("vid").cast("long").as("vid"),
      round(element_at(col("features"), 1), 6).as("f1"),
      round(element_at(col("features"), 2), 6).as("f2"))
  }

  /** sampling_path over the TPC-H property graph: pattern
    * customer -placed-> order -contains-> part, start set restricted to
    * custkey % 100 = 0 (reference: apps/sampling_path/sampling_path.h). */
  def samplingPath(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.PropertyGraph()
      .addVertices("customer", t(spark, dir, "customer")
        .where(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("vid")))
      .addVertices("order", t(spark, dir, "orders")
        .select(col("o_orderkey").as("vid")))
      .addVertices("part", t(spark, dir, "lineitem")
        .select(col("l_partkey").as("vid")).distinct())
      .addEdges("customer", "placed", "order", t(spark, dir, "orders")
        .select(col("o_custkey").as("src"), col("o_orderkey").as("dst")))
      .addEdges("order", "contains", "part", t(spark, dir, "lineitem")
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")))
    SamplingPath.run(g,
      Seq("customer", "placed", "order", "contains", "part"),
      maxPaths = 1000000000L)
  }

  def kshell(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    KShell.run(CoPurchase.graph(spark, dir), k)
      .select(col("vid").cast("long").as("vid"),
        col("in_shell").cast("long").as("in_shell"))

  // ---------- interactive (Gremlin §2.4) operator surface ----------

  def iFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        && col("c_acctbal") > 1000.0 && col("c_name").endsWith("1"))
      .select("c_custkey", "c_name", "c_acctbal")

  def iOutJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
    val c = t(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_mktsegment")
  }

  def iGroupCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").groupBy(col("o_orderpriority").as("k"))
      .agg(count(lit(1)).as("cnt"))

  def iOrderLimit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice").limit(20)

  def iRangeLocal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), row_number().over(w).as("rn"))
      .where(col("rn") <= 2).drop("rn")
  }

  def iDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select("o_custkey", "o_orderstatus").distinct()

  def iUnion(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "customer").where(col("c_acctbal") < 0.0)
      .select("c_custkey")
    val b = t(spark, dir, "orders").where(col("o_totalprice") > 300000.0)
      .select(col("o_custkey").as("c_custkey"))
    a.unionByName(b)
  }

  def iSemiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** Anti-join with a NON-empty result (customers with no urgent order —
    * r1's "customers with no order at all" was vacuously empty at every
    * sf, so the operator was never actually verified). */
  def iAntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  def iAggs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").groupBy("o_custkey").agg(
      count(lit(1)).as("cnt"),
      round(sum(col("o_totalprice")), 4).as("total"),
      round(max(col("o_totalprice")), 4).as("mx"),
      round(min(col("o_totalprice")), 4).as("mn"))

  def iMath(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax"))).as("charge"))

  /** FOLD then UNFOLD (collect_list -> explode) == identity. */
  def iFoldUnfold(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_custkey").agg(collect_list(col("o_orderkey")).as("ks"))
      .select(col("o_custkey"), explode(col("ks")).as("o_orderkey"))

  /** SAMPLE (unarystep/sample.rs): deterministic Bernoulli sample via a
    * Knuth multiplicative hash on the key — replayable in ANSI SQL, unlike
    * rand()-seeded sampling whose draw depends on partitioning. The key is
    * masked to 31 bits BEFORE the multiply so the product peaks at
    * (2^31-1)*K ~ 5.7e18 < Long.Max at every scale factor (unmasked,
    * orderkeys ≳ 3.5e9 would overflow — throwing under Spark's ANSI mode
    * and silently diverging from DuckDB's HUGEINT promotion otherwise). */
  def iSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .where(pmod(pmod(col("o_orderkey"), lit(2147483648L))
        * lit(2654435761L), lit(4294967296L))
        < lit(429496729L))
      .select("o_orderkey", "o_custkey")

  /** ESTIMATE_COUNT (query_flow.proto op 94 -> approx_count_distinct):
    * self-checking — each engine asserts its own HLL estimate lands within
    * 10% of its exact distinct count (HLL registers differ across engines,
    * so the estimates themselves cannot be hash-compared). */
  def iEstimateCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .agg(approx_count_distinct(col("o_custkey")).as("approx"),
        countDistinct(col("o_custkey")).as("exact"))
      .select(
        when(abs(col("approx").cast("double") - col("exact").cast("double"))
          <= lit(0.1) * col("exact").cast("double"), lit(1L))
          .otherwise(lit(0L)).as("ok"))

  /** CompareType surface not covered by i_filter: REGEX (rlike),
    * STARTSWITH, CONTAINS, WITHIN (sdk/message.proto:269-290). The oracle
    * replays the regex with equivalent LIKE disjunctions. */
  def iPredicates(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_name").rlike("[05]$")
        && col("c_name").contains("1")
        && col("c_name").startsWith("Customer#")
        && col("c_nationkey").isin(1, 3, 5, 7, 9, 11))
      .select("c_custkey", "c_name", "c_nationkey")

  /** BRANCH_OPTION / JOIN_CASE_WHEN (query_flow.proto ops 77/82): per-row
    * branch into labeled cases, then aggregate per branch. */
  def iCaseWhen(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(when(col("o_orderpriority") === "1-URGENT", lit("hot"))
        .when(col("o_totalprice") > 200000.0, lit("big"))
        .otherwise(lit("norm")).as("branch"), col("o_totalprice"))
      .groupBy("branch")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 4).as("total"))

  /** i_gremlin: the Gremlin TEXT front-end end-to-end (reference:
    * frontend compiler Gremlin->TreeNode->dataflow,
    * interactive_engine/src/frontend/compiler/.../tree/) — parses a
    * traversal string and compiles it to the same DataFrame plan the
    * hand-written combinators produce: label filter, within-predicate,
    * labeled hop, property filter, deterministic order + top-k slice
    * (TakeOrderedAndProject). The oracle replays the traversal as plain
    * SQL, proving the compiled plan's semantics, not just its shape. */
  def iGremlin(spark: SparkSession, dir: String): DataFrame = {
    val customers = t(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("vid"),
      col("c_mktsegment"))
    val orders = t(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("vid"),
      col("o_totalprice"))
    val placed = t(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("src"),
      col("o_orderkey").cast("long").as("dst"))
    val pg = graft.graph.PropertyGraph(
      Map("customer" -> customers, "orders" -> orders),
      Map(("customer", "placed", "orders") -> placed))
    graft.gremlin.Gremlin.run(pg,
      "g.V().hasLabel('customer')" +
        ".has('c_mktsegment', within('BUILDING', 'AUTOMOBILE'))" +
        ".out('placed').has('o_totalprice', gt(50000.0))" +
        ".order().by('o_totalprice', desc).by('vid', asc).limit(25)")
  }

  /** i_gremlin_repeat: repeat(out).times(2) through the front-end over
    * the co-purchase graph — the REPEAT/until surface (§2.4) driven from
    * traversal text; count() keeps the 2-hop bag distributed (one join +
    * one count, never materialized). */
  def iGremlinRepeat(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val pg = graft.graph.PropertyGraph(
      Map("part" -> g.vertices.select(col("vid"))),
      Map(("part", "copurchase", "part") -> g.edges.select("src", "dst")))
    graft.gremlin.Gremlin.run(pg,
      "g.V().repeat(out('copurchase')).times(2).count()")
  }

  /** i_gremlin_where: where()/not() existence sub-traversals through the
    * text front-end (reference: WherePredicateTreeNode / NotTreeNode in
    * interactive_engine/src/frontend/compiler/.../tree/) — customers with
    * at least one order over the price floor and NO urgent order,
    * compiled to a LEFT SEMI + LEFT ANTI join pair on narrow distinct
    * root relations; the oracle replays both as EXISTS / NOT EXISTS. */
  def iGremlinWhere(spark: SparkSession, dir: String): DataFrame = {
    val customers = t(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("vid"),
      col("c_mktsegment"))
    val orders = t(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("vid"),
      col("o_totalprice"), col("o_orderpriority"))
    val placed = t(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("src"),
      col("o_orderkey").cast("long").as("dst"))
    val pg = graft.graph.PropertyGraph(
      Map("customer" -> customers, "orders" -> orders),
      Map(("customer", "placed", "orders") -> placed))
    graft.gremlin.Gremlin.run(pg,
      "g.V().hasLabel('customer')" +
        ".where(out('placed').has('o_totalprice', gt(150000.0)))" +
        ".not(out('placed').has('o_orderpriority', eq('1-URGENT')))" +
        ".order().by('vid', asc).limit(100)")
  }

  /** i_gremlin_edge: outE/inE edge traversers through the text
    * front-end (reference: EdgeTreeNode/EdgeVertexTreeNode in
    * interactive_engine/src/frontend/compiler/.../tree/) — step onto
    * the contains edges (lineitem rows as edge properties), filter on
    * an edge property, land on the part side, keyed aggregate; the
    * oracle replays it as the plain lineitem-part join. */
  def iGremlinEdge(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("vid"))
    val parts = t(spark, dir, "part").select(
      col("p_partkey").cast("long").as("vid"), col("p_brand"))
    val contains = t(spark, dir, "lineitem").select(
      col("l_orderkey").cast("long").as("src"),
      col("l_partkey").cast("long").as("dst"),
      col("l_quantity"))
    val pg = graft.graph.PropertyGraph(
      Map("orders" -> orders, "part" -> parts),
      Map(("orders", "contains", "part") -> contains))
    graft.gremlin.Gremlin.run(pg,
      "g.V().hasLabel('orders').outE('contains')" +
        ".has('l_quantity', gt(45.0)).inV()" +
        ".group().by('p_brand').by(count())")
  }

  /** PATH history + SIMPLE_PATH (unarystep/filter.rs:362, PATH_OUT op 29):
    * 2-hop traversal from the min vertex carrying the path as a
    * collect-style struct column, simple-path filtered (no revisits),
    * flattened to scalar columns for the oracle compare. */
  def iSimplePath(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val start = minVid(g)
    val e = g.edges.select("src", "dst")
    val hop1 = e.where(col("src") === start)
      .select(struct(col("src").as("v0"), col("dst").as("v1")).as("path"))
    val hop2 = hop1.join(e,
        col("path.v1") === col("src"))
      .select(col("path"), col("dst").as("v2"))
      // SIMPLE_PATH: drop traversers revisiting any path vertex
      .where(col("v2") =!= col("path.v0") && col("v2") =!= col("path.v1"))
    hop2.select(col("path.v0").as("v0"), col("path.v1").as("v1"),
      col("v2"))
  }

  // ---------- documents / training-data ops ----------

  def dExactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy("text").agg(
      min(col("doc_id")).cast("long").as("canonical_id"),
      count(lit(1)).cast("long").as("n_dups"))
      .select("canonical_id", "n_dups")

  def dTokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      graft.text.TextStats.tokenCount(col("text")).as("n_tokens"))

  /** Delegates to TextStats.qualityFeatures — ONE quality implementation
    * for both the engine surface and the driver catalog (r3 shipped a
    * drifted inline copy here; the DuckDB oracle now mirrors the
    * TextStats formulas). */
  def dQuality(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextStats.qualityFeatures(t(spark, dir, "documents"))

  /** Pregel-variant PageRank (no dangling redistribution,
    * apps/pregel/pagerank_pregel.h) over the co-purchase graph — also
    * exercises the generic Pregel runner end-to-end. */
  def pregelPagerank(spark: SparkSession, dir: String): DataFrame =
    graft.pregel.Pregel.pagerankPregel(CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"),
        round(col("rank"), 6).as("pr"))

  /** FULL reference PageRank on the generic runner with a SUM aggregator
    * carrying the dangling mass (the reference's aggregator surface,
    * pregel_compute_context.h:242-250) — same values as g_pagerank, same
    * unrolled oracle. */
  def pregelPagerankAgg(spark: SparkSession, dir: String): DataFrame =
    graft.pregel.Pregel.pagerankPregelAggregated(
      CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"),
        round(col("rank"), 6).as("pr"))

  /** Pregel-variant SSSP (convergence-gated program on the generic
    * runner, apps/pregel/sssp_pregel.h) — same graph/weights/source as
    * g_sssp, so it reuses the same unrolled oracle. */
  def pregelSssp(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.weighted(CoPurchase.graph(spark, dir))
    graft.pregel.Pregel.ssspPregel(g, minVid(g))
      .select(col("vid").cast("long").as("vid"), col("dist"))
  }

  /** Pregel-variant triangle counting (apps/pregel/tc_pregel.h) — array
    * messages on the generic runner; same per-vertex counts as
    * g_triangles, so it reuses the same wedge-join oracle. */
  def pregelTc(spark: SparkSession, dir: String): DataFrame =
    graft.pregel.Pregel.tcPregel(CoPurchase.graph(spark, dir))
      .select(col("vid").cast("long").as("vid"),
        col("triangles").cast("long").as("triangles"))

  /** DFS preorder + parents from the min vertex (apps/dfs/dfs.h —
    * inherently serial token walk; see graft.apps.DFS). Exempt from the
    * DuckDB gate: lexicographic DFS preorder is not reasonably
    * SQL-unrollable; DfsSpec holds the in-JVM recursive oracle. */
  def dfs(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    DFS.run(g, minVid(g))
      .select(col("vid").cast("long").as("vid"),
        col("rank").cast("long").as("rank"),
        col("parent").cast("long").as("parent"))
  }

  /** Driver-visible DFS self-check (the preorder itself is not reasonably
    * SQL-unrollable; DfsSpec holds the in-JVM recursive oracle): one row
    * ok=1 iff the g_dfs output satisfies every SQL-checkable preorder
    * invariant —
    *   (a) the visited set equals the BFS-reachable set from the same
    *       source (DFS and BFS reach exactly the same vertices),
    *   (b) visited ranks are a permutation of 0..n-1,
    *   (c) every visited non-source vertex has a visited parent with
    *       rank(parent) < rank(v) and a real (parent, v) edge.
    * Constant-row oracle pattern of g_louvain_check. */
  def dfsCheck(spark: SparkSession, dir: String): DataFrame = {
    val g = CoPurchase.graph(spark, dir)
    val src = minVid(g)
    val visited =
      LineageCut.localCheckpoint(DFS.run(g, src).where(col("rank") >= 0)).df
    // (a) symmetric difference with the BFS-reachable set is empty
    val reach = BFS.run(g, src).where(col("depth") >= 0).select("vid")
    val aBad = visited.select("vid").unionByName(reach)
      .groupBy("vid").agg(count(lit(1)).as("c"))
      .where(col("c") =!= 2L).count()
    // (b) ranks form a permutation of 0..n-1
    val st = visited.agg(count(lit(1)).as("n"),
      countDistinct(col("rank")).as("nd"),
      min(col("rank")).as("mn"), max(col("rank")).as("mx")).head()
    val n = st.getLong(0)
    val bOk = n >= 1L && st.getLong(1) == n && st.getLong(2) == 0L &&
      st.getLong(3) == n - 1L
    // (c) tree parents: visited, earlier in preorder, and a real edge
    val nonSrc = visited.where(col("vid") =!= src)
    val badOrder = nonSrc
      .join(visited.select(col("vid").as("parent"),
        col("rank").as("parent_rank")), Seq("parent"), "left")
      .where(col("parent_rank").isNull ||
        col("parent_rank") >= col("rank")).count()
    val withEdge = nonSrc.join(
      g.edges.select(col("src").as("parent"), col("dst").as("vid")),
      Seq("parent", "vid"), "left_semi").count()
    val cOk = badOrder == 0L && withEdge == nonSrc.count()
    spark.range(1).select(
      when(lit(aBad == 0L && bOk && cOk), lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  def dMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.minhashPairs(t(spark, dir, "documents"))
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  def dSimhash(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.simhash(t(spark, dir, "documents"))

  /** Self-checking MinHash accuracy contract (signatures are
    * xxhash-dependent, so the raw pairs are not DuckDB-replayable — the
    * ESTIMATOR ERROR is): every LSH-found pair's estimated Jaccard must
    * sit within 0.2 of the exact shingle-set Jaccard (64-hash MinHash
    * concentration; measured max error 0.10 at sf0.001, 0.05 at sf0.01)
    * and at least one pair must exist. Constant-row oracle. */
  def dMinhashCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = graft.text.Dedup.minhashPairs(docs)
    val sh = docs.select(col("doc_id"),
      graft.text.Dedup.shingleHashes(col("text"), 5).as("sh"))
    pairs
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .select(col("est_jaccard"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("true_jaccard"))
      .agg(count(lit(1)).as("n"),
        max(abs(col("est_jaccard") - col("true_jaccard"))).as("err"))
      .select(when(col("n") >= 1L && col("err") <= 0.2, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  /** Self-checking SimHash sensitivity contract: planted near-identical
    * docs (one appended token) must hash close — avg Hamming ≤ 8 over 64
    * bits (measured 2.5) — while adjacent distinct docs stay far — avg
    * Hamming ≥ 12 (measured 18.4). Constant-row oracle. */
  def dSimhashCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    // Planted ids start past max(doc_id) — a fixed offset would collide
    // with real ids at a large enough scale factor and silently join
    // wrong pairs.
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.select((col("doc_id") + off).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text"))
    val sh = LineageCut.localCheckpoint(
      graft.text.Dedup.simhash(docs.unionByName(planted))).df
    val a = sh.toDF("ia", "sa")
    val nearAvg = a.join(sh.toDF("ib", "sb"),
        col("ib") === col("ia") + off)
      .agg(avg(graft.text.Dedup.hamming64(col("sa"), col("sb"))))
      .head().getDouble(0)
    val farAvg = a.join(sh.toDF("ib", "sb"), col("ib") === col("ia") + 1L)
      .where(col("ia") < off - 1L)
      .agg(avg(graft.text.Dedup.hamming64(col("sa"), col("sb"))))
      .head().getDouble(0)
    spark.range(1).select(
      when(lit(nearAvg) <= 8.0 && lit(farAvg) >= 12.0, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  def dNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.ngramJaccardPairs(t(spark, dir, "documents"))
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Self-checking n-gram Jaccard contract (gram hashes are
    * xxhash-dependent, the CONTRACT is not): planting an exact copy of
    * each of the first 20 docs, the inverted-index join must find every
    * (original, copy) pair with Jaccard exactly 1.0 — recall and
    * exactness in one zero-tolerance assertion. Constant-row oracle. */
  def dNgramCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    // Planted ids start past max(doc_id) — see dSimhashCheck.
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val pairs = graft.text.Dedup.ngramJaccardPairs(
      docs.unionByName(planted))
    pairs
      .where(col("id_a") < 20 && col("id_b") === col("id_a") + off)
      .agg(count(lit(1)).as("n"), min(col("jaccard")).as("mn"))
      .select(when(col("n") === 20L && col("mn") === 1.0, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  /** Self-checking end-to-end dedup clustering (LSH pairs -> WCC ->
    * canonical survivor; cluster ids ride the xxhash-dependent pair set,
    * the CONTRACT does not): planting an exact copy of each of the first
    * 20 docs, (a) every copy must land in its original's cluster — exact
    * duplicates share all band buckets, so missing one is broken recall;
    * (b) every cluster keeps EXACTLY its min-id member; (c) one output
    * row per input doc. Constant-row oracle. */
  def dDedupClusterCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    // Planted ids start past max(doc_id) — see dSimhashCheck.
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val all = docs.unionByName(planted)
    val res =
      LineageCut.localCheckpoint(graft.text.Dedup.dedupClusters(all)).df
    val a = res.toDF("ia", "ca", "ka")
    val together = a.where(col("ia") < 20)
      .join(res.toDF("ib", "cb", "kb"), col("ib") === col("ia") + off)
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("eq"))
      .head()
    val aOk = together.getLong(0) == 20L && together.getLong(1) == 20L
    val perCluster = res.groupBy(col("cluster")).agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"),
      min(col("doc_id")).as("mn"),
      max(when(col("keep"), col("doc_id"))).as("kept"))
    val bBad = perCluster
      .where(col("keeps") =!= 1L || col("kept") =!= col("mn")).count()
    val cOk = res.count() == all.count()
    spark.range(1).select(
      when(lit(aOk && bBad == 0L && cOk), lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  def dFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      graft.text.TextStats.fingerprint(col("text")).as("fingerprint"))

  /** Driver-visible fingerprint self-check (raw fingerprints are
    * xxhash-dependent, the CONTRACT is not): planted exact copies of the
    * 20 smallest-id docs must fingerprint identically to their originals
    * (zero tolerance — a fingerprint that misses an exact duplicate is
    * broken), and consecutive docs with DIFFERENT text must fingerprint
    * differently at least 90% of the time (the winnowing min-hash may
    * legitimately collide when two docs share the minimizing k-gram;
    * measured separation is far above the floor). Constant-row oracle
    * pattern of d_ngram_check. */
  def dFingerprintCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    // Planted ids start past max(doc_id) — see dSimhashCheck.
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val fp = LineageCut.localCheckpoint(docs.unionByName(planted)
      .select(col("doc_id"), col("text"),
        graft.text.TextStats.fingerprint(col("text")).as("fp"))).df
    val a = fp.toDF("ia", "ta", "fa")
    val b = fp.toDF("ib", "tb", "fb")
    val same = a.join(b, col("ib") === col("ia") + off)
      .agg(count(lit(1)).as("n"),
        sum(when(col("fa") === col("fb"), 1L).otherwise(0L)).as("eq"))
      .head()
    val sameOk = same.getLong(0) == 20L && same.getLong(1) == 20L
    val diff = a.where(col("ia") < off - 1L)
      .join(b, col("ib") === col("ia") + 1L)
      .where(col("ta") =!= col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L)).as("ne"))
      .head()
    val diffOk = diff.getLong(0) >= 1L &&
      diff.getLong(1).toDouble >= 0.9 * diff.getLong(0)
    spark.range(1).select(
      when(lit(sameOk && diffOk), lit(1L)).otherwise(lit(0L)).as("ok"))
  }

  private def annQueries(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("q_embedding"))

  def eAnnTopk(spark: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.bruteForceTopK(
      t(spark, dir, "embeddings").select("vec_id", "embedding"),
      annQueries(spark, dir), k = 10)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"),
        col("rank"))

  /** Self-checking LSH recall contract (the buckets are xxhash-determined
    * on the Spark side only, so the raw top-k rows are not DuckDB-
    * replayable — the CONTRACT is): the SRP-LSH top-10 must recover ≥40%
    * of the exact brute-force top-10, averaged over the 10 probe queries
    * (deterministic — measured 0.78 at sf0.01; AnnSpec holds the raw-rows
    * oracle). Constant-row oracle pattern of i_estimate_count. */
  def eAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val corpus = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = annQueries(spark, dir)
    val lsh = graft.sim.Ann.lshTopK(corpus, q, k = 10)
    val bf = graft.sim.Ann.bruteForceTopK(corpus, q, k = 10)
    lsh.select("q_id", "vec_id")
      .join(bf.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
        "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(when(col("hits") >= lit(40L), lit(1L)).otherwise(lit(0L))
        .as("ok"))
  }

  /** Self-checking IVF recall contract (centroids ride hash-sampled init
    * + float means, so raw rows are not DuckDB-replayable — the CONTRACT
    * is): probing nprobe=8 of nlist=16 inverted lists must recover ≥40%
    * of the exact brute-force top-10 over the 10 probe queries (the
    * e_ann_lsh pattern; AnnSpec holds the raw-rows oracle). */
  def eAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val corpus = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = annQueries(spark, dir)
    val ivf = graft.sim.Ann.ivfTopK(corpus, q, k = 10, nlist = 16,
      nprobe = 8, iters = 2)
    val bf = graft.sim.Ann.bruteForceTopK(corpus, q, k = 10)
    ivf.select("q_id", "vec_id")
      .join(bf.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
        "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(when(col("hits") >= lit(40L), lit(1L)).otherwise(lit(0L))
        .as("ok"))
  }

  /** Near-dup pairs over the embeddings UNION planted duplicates (the
    * first 50 vectors scaled by exactly 2.0f — cosine 1.0, and positive
    * power-of-two scaling provably preserves every SRP bucket, so recall
    * of the planted pairs is exact). r1 ran the raw table, where no pair
    * reaches the threshold (max natural cosine ≈ 0.51) and the operator
    * was verified on an empty result; the planted set gives the driver 50
    * known rows to hash. */
  def eCosNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings").select("vec_id", "embedding")
    // Planted ids start past max(vec_id) — a fixed offset would collide
    // with real ids at a large enough scale factor (see dSimhashCheck).
    // The oracle SQL derives the same offset from the same max().
    val off = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val planted = base.where(col("vec_id") < 50).select(
      (col("vec_id") + lit(off)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    graft.sim.Ann.cosineNearDupPairs(base.unionByName(planted),
      threshold = 0.95)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Video frame sampling — deterministic row multiplication, so unlike
    * the other m_* entries this one has a DuckDB oracle. */
  def mFrameSample(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.frameSample(
      graft.multimodal.Multimodal.mediaFromDocuments(spark, dir))
      .select(col("media_id").cast("long").as("media_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("t_ms").cast("long").as("t_ms"))

  /** Full per-row media contract, DuckDB-replayable (left the exemption
    * list in r5): REAL payloads for all three modalities (PNG render,
    * WAV sine synth, AVI/Motion-JPEG mux) are decoded back and the
    * decoded features emitted as typed columns NEXT to the synthesis
    * metadata. Every emitted value is a deterministic function of the
    * metadata — decoded image dims == typed width/height; decoded audio
    * sample count == duration_ms x 8 kHz and rate == 8000; decoded
    * video frame count == the muxed max(1, duration_ms*4/1000) and
    * decoded width == typed width — so the driver verifies the decode
    * relations row-by-row (the three *_decode_check entries remain as
    * pinpoint diagnostics). A payload that fell back to StubDecoder
    * would hash-mismatch, failing the row. */
  def mMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.withRealVideoPayloads(mm.withRealAudioPayloads(
      mm.withRealImagePayloads(mm.mediaFromDocuments(spark, dir))))
    val feats = mm.extractFeatures(media).toDF()
    val meta = mm.mediaFromDocuments(spark, dir).toDF()
      .select("media_id", "width", "height", "duration_ms")
    feats.join(meta, "media_id")
      .select(col("media_id").cast("long").as("media_id"), col("kind"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("duration_ms").cast("long").as("duration_ms"),
        col("frames_sampled").cast("long").as("frames_sampled"),
        element_at(col("feature"), 1).cast("long").as("decoded_a"),
        element_at(col("feature"), 2).cast("long").as("decoded_b"))
  }

  /** Self-checking REAL image decode (javax.imageio): deterministic PNG
    * payloads are rendered per image row, decoded back, and every decoded
    * width/height must equal the row's typed metadata with the luminance
    * histogram summing to 1 — proving the decode path reads the actual
    * bytes, not the metadata. Constant-row oracle. */
  def mImageDecodeCheck(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.withRealImagePayloads(
      graft.multimodal.Multimodal.mediaFromDocuments(spark, dir))
    val feats = graft.multimodal.Multimodal.extractFeatures(media).toDF()
    val meta = media.toDF().select("media_id", "width", "height")
    feats.where(col("kind") === "image")
      .join(meta, "media_id")
      .select(
        when(element_at(col("feature"), 1) === col("width").cast("float")
          && element_at(col("feature"), 2) === col("height").cast("float")
          && abs(aggregate(slice(col("feature"), 4, 5), lit(0.0),
               (acc, x) => acc + x) - lit(1.0)) < 0.001,
          lit(1L)).otherwise(lit(0L)).as("good"))
      .agg(count(lit(1)).as("n"), min(col("good")).as("allgood"))
      .select(when(col("n") >= 1L && col("allgood") === 1L, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  /** Self-checking REAL audio decode (javax.sound.sampled): deterministic
    * sine-wave WAV payloads are synthesized per audio row, decoded back,
    * and every decoded sample count must equal duration_ms * 8 (the
    * 8 kHz synth rate) from the row's typed metadata, with the decoded
    * RMS within 1% of the analytic sine RMS amp/sqrt(2) = 0.5/1.41421 —
    * proving the decode path reads the actual PCM samples, not the
    * metadata. Constant-row oracle pattern of m_image_decode_check. */
  def mAudioDecodeCheck(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.withRealAudioPayloads(
      graft.multimodal.Multimodal.mediaFromDocuments(spark, dir))
    val feats = graft.multimodal.Multimodal.extractFeatures(media).toDF()
    val meta = media.toDF().select("media_id", "duration_ms")
    val sineRms = 0.5 / math.sqrt(2.0)
    feats.where(col("kind") === "audio")
      .join(meta, "media_id")
      .select(
        when(element_at(col("feature"), 1) ===
            (col("duration_ms") * 8L).cast("float")
          && abs(element_at(col("feature"), 2) - lit(8000.0f)) < 0.5f
          && abs(element_at(col("feature"), 3) - lit(sineRms)) < 0.01,
          lit(1L)).otherwise(lit(0L)).as("good"))
      .agg(count(lit(1)).as("n"), min(col("good")).as("allgood"))
      .select(when(col("n") >= 1L && col("allgood") === 1L, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  /** Self-checking REAL video decode (RIFF/AVI demux + per-frame
    * javax.imageio JPEG decode): deterministic Motion-JPEG AVI payloads
    * are muxed per video row (duration_ms * 4fps/1000 frames whose mean
    * gray level ramps with frame index), demuxed + decoded back, and for
    * every row the decoded frame count must equal the metadata-derived
    * count, decoded width/height the typed metadata, container fps
    * exactly 4, and the inter-frame luminance delta (motion) must be
    * positive — proving the path decodes every frame's pixels, not just
    * the container header. Constant-row oracle pattern of
    * m_image_decode_check. */
  def mVideoDecodeCheck(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.withRealVideoPayloads(
      graft.multimodal.Multimodal.mediaFromDocuments(spark, dir))
    val feats = graft.multimodal.Multimodal.extractFeatures(media).toDF()
    val meta = media.toDF()
      .select("media_id", "width", "height", "duration_ms")
    feats.where(col("kind") === "video")
      .join(meta, "media_id")
      .select(
        // mirror the muxer's INTEGER truncation (Multimodal.scala
        // math.max(1, duration_ms * fps / 1000).toInt) — real division
        // only agrees while durations happen to be multiples of 250 ms
        when(element_at(col("feature"), 1) ===
            greatest(lit(1L), floor(col("duration_ms") * 4 / 1000))
              .cast("float")
          && element_at(col("feature"), 2) === col("width").cast("float")
          && element_at(col("feature"), 3) === col("height").cast("float")
          && abs(element_at(col("feature"), 4) - lit(4.0f)) < 0.001f
          && element_at(col("feature"), 6) > 0.01f,
          lit(1L)).otherwise(lit(0L)).as("good"))
      .agg(count(lit(1)).as("n"), min(col("good")).as("allgood"))
      .select(when(col("n") >= 1L && col("allgood") === 1L, lit(1L))
        .otherwise(lit(0L)).as("ok"))
  }

  /** Delegates to TextStats.langId with the default 3-stopword-per-
    * language profiles — ONE language-ID implementation for both the
    * engine surface and the driver catalog (r3 shipped a drifted inline
    * single-stopword copy here; the DuckDB oracle now mirrors the
    * TextStats profiles). */
  def dLangId(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextStats.langId(t(spark, dir, "documents"))

  /** Self-checking durable snapshot sink — the seal-class result sink
    * (reference: TO_VINEYARD_TENSOR/_DATAFRAME dag_utils.py:729-757,
    * WRITE_ODPS(61) query_flow.proto) as an Iceberg-style versioned
    * table (graft.sources.SnapshotTable). Exercises the full lifecycle
    * on the documents table in a scratch dir: create/append/overwrite
    * commits, manifest-file-list reads (a planted uncommitted data dir
    * must stay invisible), time travel to both parents with exact
    * content checksums, per-file lineage validation, and orphan vacuum.
    * Emits ok=1 iff every contract holds (constant-row oracle pattern
    * of i_estimate_count). */
  def sSnapshotSinkCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 === 1)
    val head = docs.where(col("doc_id") < 10)
    val (nEven, nAll, nHead) = (even.count(), docs.count(), head.count())
    def ck(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(xxhash64(col("doc_id"), col("text"))
        .cast("decimal(38,0)"))).head().getDecimal(0)
    val fullCk = ck(docs)
    val root = java.nio.file.Files.createTempDirectory("graft-snap-check")
    val table = root.resolve("t").toString
    val ok = try {
      val v1 = SnapshotTable.create(even, table)
      val v2 = SnapshotTable.append(odd, table)
      // an abandoned write: on disk under data/, referenced by no manifest
      docs.limit(5).write.parquet(s"$table/data/orphan")
      val v3 = SnapshotTable.overwrite(head, table)
      SnapshotTable.validate(spark, table, v2)
      SnapshotTable.validate(spark, table, v3)
      val hist = SnapshotTable.snapshots(spark, table)
      val histOk = hist.map(m => (m.version, m.operation, m.parentVersion)) ==
        Seq((1, "create", -1), (2, "append", 1), (3, "overwrite", 2)) &&
        (v1, v2, v3) == ((1, 2, 3))
      val readsOk =
        SnapshotTable.read(spark, table).count() == nHead &&
        SnapshotTable.readVersion(spark, table, v2).count() == nAll &&
        SnapshotTable.readVersion(spark, table, v1).count() == nEven &&
        ck(SnapshotTable.readVersion(spark, table, v2)) == fullCk
      val vacuumOk = SnapshotTable.vacuum(spark, table) == 1 &&
        SnapshotTable.read(spark, table).count() == nHead
      histOk && readsOk && vacuumOk
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.range(1)
      .select((if (ok) lit(1L) else lit(0L)).as("ok"))
  }

  /** Driver-visible contract for the incremental dedup pipeline
    * (Dedup.incrementalDedupStep over two snapshot tables): feed the
    * documents table as increment 1 and planted exact copies of 20
    * distinct-text docs (ids offset past max(doc_id) — plants can never
    * collide with real ids) as increment 2. Every planted cross-boundary
    * pair must surface from step 2 at est_jaccard 1.0 WITHOUT re-signing
    * the corpus (step 2 only shingles the 20-doc delta; the corpus side
    * is the persisted signature store). Emits ok=1. */
  def dIncrDedupCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Dedup
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val originals = LineageCut.localCheckpoint(docs.dropDuplicates("text")
      .orderBy(col("doc_id")).limit(20)).df
    val plants = originals
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-incr-check")
    val (corpus, sigs) =
      (root.resolve("c").toString, root.resolve("s").toString)
    val ok = try {
      Dedup.incrementalDedupStep(corpus, sigs, docs).count() // warm store
      val p2 = Dedup.incrementalDedupStep(corpus, sigs, plants)
      val want = originals.select(col("doc_id").as("id_a"),
        (col("doc_id") + off).as("id_b"))
      val found = p2.where(col("est_jaccard") >= 1.0)
        .join(want, Seq("id_a", "id_b"), "left_semi").count()
      val storeRows = graft.sources.SnapshotTable.read(spark, sigs).count()
      found == 20 && storeRows == docs.count() + 20
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.range(1)
      .select((if (ok) lit(1L) else lit(0L)).as("ok"))
  }

  /** Driver-visible contract for the streaming snapshot sink's
    * exactly-once ledger (streaming.StreamIngest.commitBatch — the
    * foreachBatch core): three document batches commit under ids 0..2,
    * replays of already-committed ids are skipped, the high-water mark
    * advances, and a downstream readIncremental sees exactly the last
    * batch's rows. Emits ok=1. */
  def sStreamIngestCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    import graft.streaming.StreamIngest
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    def batch(i: Int) = docs.where(pmod(col("doc_id"), lit(3)) === i)
    val (n0, n1, n2) = (batch(0).count(), batch(1).count(),
      batch(2).count())
    val root = java.nio.file.Files.createTempDirectory("graft-stream-check")
    val tbl = root.resolve("t").toString
    val ok = try {
      StreamIngest.commitBatch(batch(0), tbl, 0L) &&
      StreamIngest.commitBatch(batch(1), tbl, 1L) &&
      !StreamIngest.commitBatch(batch(0), tbl, 0L) && // replay skipped
      !StreamIngest.commitBatch(batch(1), tbl, 1L) &&
      StreamIngest.lastCommittedBatch(spark, tbl) == 1L &&
      SnapshotTable.read(spark, tbl).count() == n0 + n1 &&
      StreamIngest.commitBatch(batch(2), tbl, 2L) && {
        val incr = SnapshotTable.readIncremental(spark, tbl, 2)
        incr.count() == n2 &&
          SnapshotTable.read(spark, tbl).count() == n0 + n1 + n2
      }
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.range(1)
      .select((if (ok) lit(1L) else lit(0L)).as("ok"))
  }

  /** Driver-visible contract for the snapshot table's manifest-stats
    * file pruning and add-only incremental reads: three key-clustered
    * appends must yield (a) a mid-range scan that PLANS exactly one of
    * the three data files yet returns exactly the rows a full-table
    * filter returns, (b) an out-of-range scan that plans zero files, and
    * (c) an incremental read of v1..v3 that plans only the two appended
    * files and returns exactly their rows. Emits ok=1. */
  def sSnapshotPruneCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan,
      GreaterThanOrEqual, LessThan}
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    def ck(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(xxhash64(col("doc_id"), col("text"))
        .cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)
    val root = java.nio.file.Files.createTempDirectory("graft-prune-check")
    val table = root.resolve("t").toString
    val ok = try {
      SnapshotTable.create(
        docs.where(col("doc_id") < b1).repartition(1), table)
      SnapshotTable.append(docs.where(col("doc_id") >= b1 &&
        col("doc_id") < b2).repartition(1), table)
      SnapshotTable.append(
        docs.where(col("doc_id") >= b2).repartition(1), table)
      val m = SnapshotTable.manifest(spark, table, 3)

      val mid = SnapshotTable.scan(spark, table,
        Seq(GreaterThanOrEqual("doc_id", b1), LessThan("doc_id", b2)))
      val pruneOk = m.files.size == 3 &&
        mid.inputFiles.length == 1 &&
        ck(mid) == ck(docs.where(col("doc_id") >= b1 &&
          col("doc_id") < b2))

      val none = SnapshotTable.scan(spark, table,
        Seq(GreaterThan("doc_id", maxId)))
      val noneOk = none.inputFiles.isEmpty && none.count() == 0

      val pointOk = SnapshotTable.scan(spark, table,
        Seq(EqualTo("doc_id", maxId))).inputFiles.length == 1

      val incr = SnapshotTable.readIncremental(spark, table, 1)
      val v1Paths = SnapshotTable.manifest(spark, table, 1).files
        .map(_.path)
      val incrOk =
        incr.inputFiles.forall(f => !v1Paths.exists(f.endsWith)) &&
          ck(incr) == ck(docs.where(col("doc_id") >= b1))

      pruneOk && noneOk && pointOk && incrOk
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.range(1)
      .select((if (ok) lit(1L) else lit(0L)).as("ok"))
  }

  /** Driver-visible contract for the snapshot table's per-file BLOOM
    * stats — the point-lookup pruning lever past min/max (Iceberg's next
    * lever after bounds): two appends with fully INTERLEAVED doc_id
    * ranges (even/odd split), so range stats alone keep BOTH files on
    * every mid-range point probe, while the bloom must plan strictly
    * fewer files on EqualTo probes with every result exact. Probes are
    * mid-range so the range baseline provably cannot prune; one
    * fp-collision of the 8 probes is tolerated (deterministic data, but
    * the margin keeps the contract stable across scale factors). The
    * check table is capped at 800 docs so the blooms never saturate at
    * larger sf. Emits ok=1 (constant-row oracle). */
  def sSnapshotBloomCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual,
      LessThanOrEqual}
    val docs = LineageCut.localCheckpoint(t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(800)).df
    val root = java.nio.file.Files.createTempDirectory("graft-bloom-check")
    val table = root.resolve("t").toString
    val ok = try {
      SnapshotTable.create(
        docs.where(pmod(col("doc_id"), lit(2)) === 0).repartition(1),
        table)
      SnapshotTable.append(
        docs.where(pmod(col("doc_id"), lit(2)) === 1).repartition(1),
        table)
      val evens = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .orderBy(col("doc_id")).collect().map(_.getLong(0))
      val mid = evens.length / 2
      val probes = evens.slice(mid - 4, mid + 4).toSeq
      val per = probes.map { p =>
        val range = SnapshotTable.scan(spark, table,
          Seq(GreaterThanOrEqual("doc_id", p), LessThanOrEqual("doc_id", p)))
        val eq = SnapshotTable.scan(spark, table, Seq(EqualTo("doc_id", p)))
        (range.inputFiles.length == 2,
          eq.inputFiles.length == 1,
          eq.count() == 1 && eq.head().getLong(0) == p)
      }
      per.nonEmpty && per.forall(_._1) && per.forall(_._3) &&
        per.count(_._2) >= per.size - 1
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.range(1)
      .select((if (ok) lit(1L) else lit(0L)).as("ok"))
  }
}
