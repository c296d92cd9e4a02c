package graft

import graft.apps._
import graft.graph.SimpleGraph
import org.apache.spark.sql.functions._

/** Hand-crafted graph (mirrors the reference's p2p-31 golden-file tests,
  * analytical_engine/test/app_tests.sh:363-371, at miniature scale) checked
  * against the in-JVM oracles: PR allclose 1e-6, everything else exact —
  * the same tolerances as python/tests/test_app.py:224,292,310. */
class TinyGraphSpec extends SparkSpec {

  // Two components + an isolated vertex + a directed dangling sink.
  // Component A: triangle 1-2-3, chain 3-4-5, hub 1 -> {6,7}; 6->7.
  // Component B: 8-9. Isolated: 10. Vertex 5 has no out-edges (dangling).
  val verts: Seq[Long] = 1L to 10L
  val dirEdges: Seq[(Long, Long)] = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (1L, 6L), (1L, 7L), (6L, 7L), (7L, 1L), (8L, 9L), (9L, 8L))
  val undEdges: Seq[(Long, Long)] =
    (dirEdges ++ dirEdges.map(e => (e._2, e._1))).distinct

  def g(edges: Seq[(Long, Long)], directed: Boolean): SimpleGraph = {
    import spark.implicits._
    SimpleGraph(
      verts.toDF("vid"),
      edges.toDF("src", "dst"),
      directed)
  }
  lazy val gDir = g(dirEdges, directed = true)
  lazy val gUnd = g(undEdges, directed = false)

  def asMapL(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  def asMapD(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pagerank matches reference recurrence (directed, dangling)") {
    val got = asMapD(PageRank.run(gDir, 0.85, 10))
    val want = TestOracles.pagerank(verts, dirEdges, 0.85, 10)
    assertAllClose(got, want, 1e-6, "pagerank")
  }

  test("pagerank total mass matches the oracle's (reference semantics " +
      "drop mass entering dangling vertices, pagerank.h:157-158)") {
    val total = PageRank.run(gDir, 0.85, 10)
      .agg(sum(col("rank"))).head().getDouble(0)
    val want = TestOracles.pagerank(verts, dirEdges, 0.85, 10).values.sum
    assert(math.abs(total - want) < 1e-9, s"mass $total vs oracle $want")
    assert(total > 0.0 && total <= 1.0 + 1e-9)
  }

  test("sssp_average_length exact mode (sources = ALL vertices) matches " +
      "the all-pairs Dijkstra oracle; sampled mode matches per-source") {
    // weighted undirected graph, deterministic weights as in CoPurchase
    val wEdges = undEdges.map { case (a, b) =>
      (a, b, 1.0 + ((a + b) % 7).toDouble) }
    import spark.implicits._
    val wg = SimpleGraph(verts.toDF("vid"),
      wEdges.toDF("src", "dst", "weight"), directed = false)
    val n = verts.size.toDouble
    // in-JVM: sum over ordered reachable pairs / (n*(n-1))
    val dists = verts.map(s => TestOracles.sssp(verts, wEdges, s))
    val want = dists.flatMap(_.values).filter(d => d > 0).sum / (n * (n - 1))
    val got = SSSP.averageLength(wg, verts).head().getDouble(0)
    assert(math.abs(got - want) < 1e-9, s"exact avg $got vs $want")
    // sampled mode with a single source == that source's mean distance
    val want1 = TestOracles.sssp(verts, wEdges, 1L).values
      .filter(_ > 0).sum / (n - 1)
    val got1 = SSSP.averageLength(wg, Seq(1L)).head().getDouble(0)
    assert(math.abs(got1 - want1) < 1e-9, s"sampled avg $got1 vs $want1")
  }

  test("wcc matches union-find oracle exactly") {
    val got = asMapL(WCC.run(gDir))
    val want = TestOracles.wcc(verts, dirEdges)
    assert(got == want, s"got $got want $want")
  }

  test("cdlp matches synchronous LDBC oracle exactly") {
    val got = asMapL(CDLP.run(gDir, maxRound = 10))
    val want = TestOracles.cdlp(verts, dirEdges, 10)
    assert(got == want, s"got $got want $want")
  }

  test("triangles matches brute-force oracle exactly") {
    val got = asMapL(Triangles.run(gDir))
    val want = TestOracles.triangles(verts, dirEdges)
    assert(got == want, s"got $got want $want")
  }

  test("triangles invariant under edge direction flip") {
    val flipped = g(dirEdges.map(e => (e._2, e._1)), directed = true)
    assert(asMapL(Triangles.run(flipped)) == asMapL(Triangles.run(gDir)))
  }

  test("bfs depth matches oracle (undirected view)") {
    val got = asMapL(BFS.run(gUnd, 1L))
    val want = TestOracles.bfs(verts, undEdges, 1L)
    assert(got == want, s"got $got want $want")
  }

  test("sssp matches Dijkstra oracle") {
    import spark.implicits._
    val wEdges = undEdges.map { case (a, b) =>
      (a, b, 1.0 + ((a + b) % 7).toDouble) }
    val gw = SimpleGraph(verts.toDF("vid"),
      wEdges.toDF("src", "dst", "weight"), directed = false)
    val got = asMapD(SSSP.run(gw, 1L))
    val want = TestOracles.sssp(verts, wEdges, 1L)
    assertAllClose(got, want, 1e-12, "sssp")
  }

  test("kcore membership matches peeling oracle (k=2)") {
    val core = TestOracles.coreNumbers(verts, undEdges)
    val want = verts.map(v => v -> (if (core(v) >= 2) 1L else 0L)).toMap
    val got = asMapL(KCore.run(gUnd, 2))
    assert(got == want, s"got $got want $want")
  }

  test("kshell matches core-number oracle (k=1 and k=2)") {
    val core = TestOracles.coreNumbers(verts, undEdges)
    for (k <- Seq(1, 2)) {
      val want = verts.map(v => v -> (if (core(v) == k) 1L else 0L)).toMap
      val got = asMapL(KShell.run(gUnd, k))
      assert(got == want, s"k=$k got $got want $want")
    }
  }

  test("hits matches reference-semantics oracle") {
    val got = HITS.run(gDir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = TestOracles.hits(verts, dirEdges)
    for (v <- verts) {
      assert(math.abs(got(v)._1 - want(v)._1) < 1e-9, s"hub($v)")
      assert(math.abs(got(v)._2 - want(v)._2) < 1e-9, s"auth($v)")
    }
  }

  test("eigenvector centrality matches oracle") {
    val got = asMapD(Centrality.eigenvector(gUnd))
    val want = TestOracles.eigenvector(verts, undEdges)
    assertAllClose(got, want, 1e-9, "eigenvector")
  }

  test("katz centrality matches oracle") {
    val got = asMapD(Centrality.katz(gUnd))
    val want = TestOracles.katz(verts, undEdges)
    assertAllClose(got, want, 1e-9, "katz")
  }

  def emptyGraph: SimpleGraph = {
    import spark.implicits._
    SimpleGraph(Seq.empty[Long].toDF("vid"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), directed = true)
  }

  test("eigenvector centrality on an empty graph is an empty frame") {
    val got = Centrality.eigenvector(emptyGraph)
    assert(got.columns.toSeq == Seq("vid", "centrality"))
    assert(got.count() == 0L)
  }

  test("katz centrality on an empty graph is an empty frame") {
    val got = Centrality.katz(emptyGraph)
    assert(got.columns.toSeq == Seq("vid", "centrality"))
    assert(got.count() == 0L)
  }

  test("hits on an empty graph is an empty frame") {
    val got = HITS.run(emptyGraph)
    assert(got.columns.toSeq == Seq("vid", "hub", "auth"))
    assert(got.count() == 0L)
  }

  test("hits on an edgeless graph leaves the all-zero authority " +
      "unnormalized") {
    import spark.implicits._
    val g = SimpleGraph(Seq(1L, 2L, 3L).toDF("vid"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), directed = true)
    val got = HITS.run(g).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    got.values.foreach { case (hub, auth) =>
      assert(math.abs(hub - 1.0 / 3) < 1e-12 && auth == 0.0, got)
    }
  }

  test("iterative apps: a round runs only its cut and the state " +
      "broadcast, no scalar job") {
    import spark.implicits._
    val users = verts.map(v => (v, Seq(0.5, v / 20.0))).toDF("vid", "features")
    val wEdges = dirEdges.map { case (a, b) => (a, b, 1.0 + a % 3) }
      .toDF("src", "dst", "weight")
    val rounds = 3
    // (app, run it with `rounds` rounds; negative tolerances never stop
    // early)
    val cases: Seq[(String, () => Unit)] = Seq(
      ("katz", () =>
        Centrality.katz(gUnd, tolerance = -1, maxRound = rounds).collect()),
      ("eigenvector", () =>
        Centrality.eigenvector(gUnd, tolerance = -1, maxRound = rounds)
          .collect()),
      ("hits", () =>
        HITS.run(gDir, tolerance = -1, maxRound = rounds).collect()),
      ("louvain", () =>
        Louvain.run(gUnd, maxLevels = 1, maxRoundsPerLevel = rounds)
          .collect()),
      ("lpa_u2i", () =>
        LPAU2I.run(users, wEdges, maxRound = 2 * rounds + 1).collect()),
      ("pregel pagerank aggregated", () =>
        graft.pregel.Pregel.pagerankPregelAggregated(gDir,
          maxRounds = rounds).collect()))
    val cut = "localCheckpoint at Iterate.scala"
    for ((app, run) <- cases) {
      val sites = jobsDuring(run())
      val cuts = sites.indices.filter(sites(_).startsWith(cut))
      // the initial state's cut plus one per round (Louvain's two
      // zero-move rounds may end its phase early)
      assert(cuts.size >= (if (app == "louvain") 2 else rounds + 1),
        s"$app: $sites")
      // between the first and the last cut: cuts and the jobs a cut runs
      // on a pool thread (state broadcasts, query stages) — no Dataset
      // action such as the head, count or collect of a round scalar
      val other = sites.slice(cuts.head, cuts.last).filterNot(s =>
        s.startsWith(cut) || s.contains("withThreadLocalCaptured"))
      assert(other.isEmpty, s"$app runs other jobs inside its rounds: " +
        s"$other (all jobs: $sites)")
    }
  }

  test("degree centrality = deg/(n-1)") {
    val got = asMapD(Centrality.degree(gUnd))
    val nbrs = undEdges.groupBy(_._1).view.mapValues(_.size).toMap
    val want = verts.map(v =>
      v -> nbrs.getOrElse(v, 0) / 9.0).toMap
    assertAllClose(got, want, 1e-12, "degree_centrality")
  }

  test("local clustering coefficient") {
    val got = asMapD(Clustering.local(gUnd))
    val tri = TestOracles.triangles(verts, undEdges)
    val nbrs = undEdges.groupBy(_._1).view.mapValues(_.size).toMap
    val want = verts.map { v =>
      val d = nbrs.getOrElse(v, 0)
      v -> (if (d < 2) 0.0 else 2.0 * tri(v) / (d * (d - 1.0)))
    }.toMap
    assertAllClose(got, want, 1e-12, "clustering")
  }

  test("results invariant across partition counts (2 vs 16)") {
    val r2 = normalize(PageRank.run(gDir, 0.85, 10, numPartitions = 2)
      .select(col("vid"), round(col("rank"), 10).as("r")))
    val r16 = normalize(PageRank.run(gDir, 0.85, 10, numPartitions = 16)
      .select(col("vid"), round(col("rank"), 10).as("r")))
    assert(r2 == r16)
    val w2 = normalize(WCC.run(gDir, numPartitions = 2))
    val w16 = normalize(WCC.run(gDir, numPartitions = 16))
    assert(w2 == w16)
  }

  test("frontier-delta broadcast hint: identical results whether the " +
      "frontier is always, never, or adaptively broadcast") {
    val wEdges = dirEdges.map { case (a, b) =>
      (a, b, 1.0 + ((a + b) % 7).toDouble) }
    import spark.implicits._
    val wg = SimpleGraph(verts.toDF("vid"),
      wEdges.toDF("src", "dst", "weight"), directed = true)
    def all3 = (asMapD(SSSP.run(wg, 1L)), asMapL(BFS.run(gDir, 1L)),
      asMapL(WCC.run(gUnd)))
    val base = all3
    // Shuffle tier so Strategy.frontier's prevChanged branch decides.
    System.setProperty("graft.force.shuffle", "1")
    try {
      System.setProperty("graft.frontier.broadcast.max", "0")
      val never = all3
      System.setProperty("graft.frontier.broadcast.max",
        Long.MaxValue.toString)
      val always = all3
      assert(never == base, "never-broadcast frontier changed results")
      assert(always == base, "always-broadcast frontier changed results")
    } finally {
      System.clearProperty("graft.force.shuffle")
      System.clearProperty("graft.frontier.broadcast.max")
    }
  }

  test("non-broadcast (shuffle) join path gives identical results") {
    val bPr = normalize(PageRank.run(gDir)
      .select(col("vid"), round(col("rank"), 10).as("r")))
    val bWcc = normalize(WCC.run(gDir))
    System.setProperty("graft.force.shuffle", "1")
    try {
      val sPr = normalize(PageRank.run(gDir)
        .select(col("vid"), round(col("rank"), 10).as("r")))
      val sWcc = normalize(WCC.run(gDir))
      assert(sPr == bPr)
      assert(sWcc == bWcc)
    } finally System.clearProperty("graft.force.shuffle")
  }

  test("pagerank resumes from a durable checkpoint mid-run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt")
      .toString
    val cp = graft.pregel.CheckpointConfig(Some(dir), runId = "pr")
    // "Crashed" run: only 4 of the 10 rounds complete.
    PageRank.run(gDir, 0.85, 4, checkpoint = cp)
    // Resumed run to 10 rounds must pick up at the round-4 snapshot
    // checkpoint and match a straight 10-round run exactly (the dangling
    // base recurrence is a pure function of the global round index, so
    // the resumed rounds 5..10 see the same bases).
    val resumed = asMapD(PageRank.run(gDir, 0.85, 10, checkpoint = cp))
    val straight = asMapD(PageRank.run(gDir, 0.85, 10))
    assertAllClose(resumed, straight, 1e-12, "resumed pagerank")
    // The snapshot history proves rounds 5..10 ran ONCE on top of 1..4
    // (a recompute-from-scratch would have committed 10 more -> 14).
    val iters = graft.sources.SnapshotTable.snapshots(spark, s"$dir/pr")
      .map(_.summary("iteration").toInt)
    assert(iters == (1 to 10), s"expected iterations 1..10, got $iters")
  }

  test("graph ops: subgraph, reverse, undirected, degrees") {
    import spark.implicits._
    val sub = gDir.induceSubgraph(Seq(1L, 2L, 3L, 4L).toDF("vid"))
    assert(sub.numVertices == 4)
    assert(normalize(sub.edges) == normalize(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")))
    assert(gDir.reverse.reverse.edges.collect().toSet ==
      gDir.edges.collect().toSet)
    val und = gDir.toUndirected
    assert(!und.directed && und.numEdges == undEdges.size)
    assert(asMapL(gDir.outDegrees)(5L) == 0L)
    assert(asMapL(gDir.inDegrees)(5L) == 1L)
  }
}
