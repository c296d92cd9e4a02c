package graft

import graft.apps.Louvain
import graft.graph.SimpleGraph
import graft.graphbuild.CoPurchase
import org.apache.spark.sql.functions._

/** Louvain: planted-partition recovery, modularity sanity, determinism.
  * Exact label assignment is not well-defined for modularity clustering
  * (reference runs are order-dependent too), so the oracle is structural:
  * known community structure must be recovered, the modularity must be
  * high, and — unlike the reference — our formulation is deterministic, so
  * reruns and different input partitionings must agree exactly. */
class LouvainSpec extends SparkSpec {

  def graphOf(pairs: Seq[(Long, Long)]): SimpleGraph = {
    import spark.implicits._
    val e = pairs.toDF("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"),
      col("src").as("dst")))
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("vid")
    SimpleGraph(verts, sym, directed = false, simpleEdges = true)
  }

  def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for (a <- ids; b <- ids if a < b) yield (a, b)

  def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cliques + bridge: communities = the cliques, labels = min " +
      "member") {
    val pairs = clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L)
    val g = graphOf(pairs)
    val got = asMap(Louvain.run(g))
    assert((1L to 5L).map(got).toSet.size == 1, s"clique1 split: $got")
    assert((11L to 15L).map(got).toSet.size == 1, s"clique2 split: $got")
    assert(got(1L) != got(11L), s"cliques merged: $got")
    assert(got(1L) == 1L && got(11L) == 11L, s"labels not min-member: $got")
  }

  test("empty graph: an empty frame") {
    import spark.implicits._
    val g = SimpleGraph(Seq.empty[Long].toDF("vid"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), directed = false)
    val got = Louvain.run(g)
    assert(got.columns.toSeq == Seq("vid", "community"))
    assert(got.count() == 0L)
  }

  test("three planted 8-cliques in a ring: recovered with high " +
      "modularity") {
    val cs = Seq(0L until 8L, 10L until 18L, 20L until 28L)
    val pairs = cs.flatMap(clique) ++
      Seq((7L, 10L), (17L, 20L), (27L, 0L))
    val g = graphOf(pairs)
    val assign = Louvain.run(g)
    val got = asMap(assign)
    for (c <- cs)
      assert(c.map(got).toSet.size == 1, s"clique $c split: $got")
    val q = Louvain.modularity(g,
      assign.select(col("vid"), col("community")))
    // planted partition Q = 3*(28/87) - 3*(29/87)^2 ≈ 0.63
    assert(q > 0.55, s"modularity $q too low")
  }

  test("modularityExact: hand-computed planted rational, and exact == " +
      "float modularity on the Louvain assignment") {
    import spark.implicits._
    val cs = Seq(0L until 8L, 10L until 18L, 20L until 28L)
    val pairs = cs.flatMap(clique) ++
      Seq((7L, 10L), (17L, 20L), (27L, 0L))
    val g = graphOf(pairs)
    // planted assignment: m=87, i2=2*84=168, m2=174, tot_c=58 each
    // -> q_num = 168*174 - 3*58^2 = 19140, q_den = 174^2 = 30276
    val planted = cs.flatMap(c => c.map(v => (v, c.head)))
      .toDF("vid", "community")
    assert(Louvain.modularityExact(g, planted) == (19140L, 30276L))
    // and on the actual Louvain assignment the exact rational must agree
    // with the float modularity (independent arithmetic paths)
    val assign = Louvain.run(g).select(col("vid"), col("community"))
    val q = Louvain.modularity(g, assign)
    val (n, d) = Louvain.modularityExact(g, assign)
    assert(math.abs(q - n.toDouble / d) <= 1e-12,
      s"float $q vs exact $n/$d")
  }

  test("deterministic across reruns and input partitionings") {
    val pairs = clique(1L to 6L) ++ clique(21L to 26L) ++
      clique(41L to 46L) ++ Seq((6L, 21L), (26L, 41L), (46L, 1L))
    val g = graphOf(pairs)
    val a = asMap(Louvain.run(g))
    val g2 = g.copy(edges = g.edges.repartition(7),
      vertices = g.vertices.repartition(3))
    val b = asMap(Louvain.run(g2))
    assert(a == b, "partitioning changed the Louvain result")
  }

  test("forced CSR gather tier produces the identical assignment " +
      "(weighted blocks + gatherLabelSum vs the per-round join)") {
    val pairs = clique(1L to 6L) ++ clique(21L to 26L) ++
      clique(41L to 46L) ++ Seq((6L, 21L), (26L, 41L), (46L, 1L))
    val g = graphOf(pairs)
    val base = asMap(Louvain.run(g))
    for (prop <- Seq("graft.force.shuffle", "graft.force.csr")) {
      sys.props(prop) = "true"
      try assert(asMap(Louvain.run(g)) == base,
        s"$prop changed the Louvain result")
      finally sys.props.remove(prop)
    }
  }

  test("co-purchase sf0.001: deterministic, covers all vertices, " +
      "positive modularity") {
    // capped like the catalog entry — full defaults take ~10 min here and
    // add no extra signal (the planted tests exercise deep convergence)
    val g = CoPurchase.graph(spark, "/root/testdata/sf0.001")
    val r1 = Louvain.run(g, maxLevels = 2, maxRoundsPerLevel = 8)
    val m1 = asMap(r1)
    assert(m1.size == g.numVertices, "not every vertex labeled")
    val q = Louvain.modularity(g, r1)
    assert(q > 0.0, s"modularity $q not positive")
    val m2 = asMap(Louvain.run(g, maxLevels = 2, maxRoundsPerLevel = 8))
    assert(m1 == m2, "rerun differs")
  }
}
