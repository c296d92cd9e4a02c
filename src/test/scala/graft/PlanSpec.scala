package graft

import org.apache.spark.sql.functions._

/** Physical-plan contracts (the properties that survive a 100x scale-up):
  * predicate pushdown and column pruning reach the parquet scan, the text
  * pipeline stays inside whole-stage codegen with no UDFs, and the small
  * side of the ANN join is broadcast. These assert the SHAPE of the plan,
  * not timings, so they are stable across machines. */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("filters and projections push down to the parquet scan") {
    val plan = executedPlan(Queries.iFilter(spark, dir))
    assert(plan.contains("PushedFilters: ["), "no pushed filters")
    assert(plan.contains("IsNotNull(c_acctbal)")
      || plan.contains("GreaterThan(c_acctbal"),
      s"c_acctbal filter not pushed:\n$plan")
    // column pruning: untouched wide columns never reach the scan
    assert(!plan.contains("c_address") && !plan.contains("c_comment"),
      "scan reads pruned columns")
  }

  test("text/dedup pipeline is UDF-free and inside whole-stage codegen") {
    for (q <- Seq(Queries.dQuality(spark, dir),
        Queries.dTokenCount(spark, dir), Queries.dLangId(spark, dir))) {
      val plan = executedPlan(q)
      // executedPlan.toString marks whole-stage codegen spans as "*(n)"
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        "no codegen span")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        "UDF in the hot path")
    }
  }

  test("ANN brute-force broadcasts the query side, not the corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val plan = executedPlan(graft.sim.Ann.bruteForceTopK(emb, q, 10))
    assert(plan.contains("Broadcast"), s"no broadcast in:\n$plan")
  }

  test("IVF probes broadcast centroids + probe set; embeddings UDF-free") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val plan = executedPlan(
      graft.sim.Ann.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 4,
        iters = 1))
    assert(plan.contains("Broadcast"), s"no broadcast in:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "UDF in the IVF path")
    // The nlist-row centroid side must never be the build side of a
    // sort-merge join against the corpus.
    assert(!plan.contains("CartesianProduct"),
      s"non-broadcast cross join in:\n$plan")
  }

  test("dedupClusters pair generation is UDF-free with no cross join") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ff"),
      (3L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val plan = executedPlan(graft.text.Dedup.dedupClusters(docs))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "UDF in the dedup path")
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs cross join in:\n$plan")
  }

  test("dedup hub caps are groupBy-count semi-joins, never Window sorts") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ff"),
      (3L, "zz yy xx ww vv")).toDF("doc_id", "text")
    // One cap implementation everywhere: a Window count over the banded /
    // inverted relation re-sorts the full exploded relation per key — at
    // 100 TB that sort is pure waste next to a map-side-combinable
    // groupBy.count semi-join (the incrementalMinhashPairs form).
    for (q <- Seq(graft.text.Dedup.minhashPairs(docs),
        graft.text.Dedup.ngramJaccardPairs(docs))) {
      val plan = executedPlan(q)
      assert(!plan.contains("Window"),
        s"Window sort in the dedup cap path:\n$plan")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        "UDF in the dedup path")
    }
  }

  test("superstep aggregation is map-side combined (partial + final)") {
    val g = graphbuild.CoPurchase.graph(spark, dir)
    val contrib = g.edges
      .join(g.outDegrees.select(col("vid").as("src"), col("deg")), "src")
      .groupBy(col("dst")).agg(sum(lit(1.0) / col("deg")).as("m"))
    val plan = executedPlan(contrib)
    // two HashAggregate nodes = partial (map-side combine) + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation:\n$plan")
  }

  test("broadcast-tier gather: one broadcast exchange and no shuffle " +
      "exchange, for every combine") {
    import graft.graph.SimpleGraph
    import graft.graph.EdgeBlocks.Combine
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import spark.implicits._
    val rng = new scala.util.Random(5L)
    val edges = Seq.fill(200)((rng.nextInt(40).toLong,
      rng.nextInt(40).toLong, 1.0 + rng.nextInt(5))).toDF("src", "dst",
      "weight")
    val g = SimpleGraph((0L until 40L).toDF("vid"), edges, directed = true)
    // the edge view each app gathers each combine over
    val views = Map(Combine.Sum -> "dir", Combine.Min -> "und",
      Combine.MinPlus -> "dirw", Combine.Collect -> "und",
      Combine.LabelCount -> "both", Combine.LabelSum -> "dirw")
    try {
      val n = g.numVertices
      val p = spark.sessionState.conf.numShufflePartitions
      // superstep state arrives checkpointed, with no plan of its own
      val state = g.vertices.select(col("vid"), col("vid").as("value"))
        .localCheckpoint(true)
      for ((c, view) <- views) {
        val plan = g.gather(view, c, n, p)(state, -1L)
          .queryExecution.executedPlan
        // Nodes of the plan tree itself: the cached view's InMemoryRelation
        // prints the exchanges that built it, which run once, not per round.
        val bx = plan.collect { case b: BroadcastExchangeExec => b }
        val sx = plan.collect { case x: ShuffleExchangeExec => x }
        assert(bx.size == 1 && sx.isEmpty, s"$c over $view: " +
          s"${bx.size} broadcast(s), ${sx.size} shuffle(s) in\n$plan")
      }
    } finally g.unload()
  }

  test("a round planned over a cut state shuffles only the messages into " +
      "its vid join") {
    import org.apache.spark.sql.LineageCut
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val edges = (0L until 40L).map(v => (v, (v * 7) % 40)).toDF("src", "dst")
    val vertices = (0L until 40L).toDF("vid")
      .select(col("vid"), lit(1.0).as("x")).repartition(p, col("vid"))
    // (state side, messages side) exchange counts of the round's vid join
    def exchanges(state: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val msgs = edges.join(state.select(col("vid").as("src"), col("x")),
          "src")
        .groupBy(col("dst").as("vid")).agg(sum(col("x")).as("m"))
      val plan = state.join(msgs, Seq("vid"), "left")
        .queryExecution.executedPlan
      val j = plan.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"no sort-merge join in\n$plan"))
      def n(side: SparkPlan) =
        side.collect { case x: ShuffleExchangeExec => x }.size
      (n(j.left), n(j.right))
    }
    val keep = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (cutSide, cutMsgs) =
        exchanges(LineageCut.localCheckpoint(vertices).df)
      assert(cutSide == 0 && cutMsgs >= 1,
        s"cut state: $cutSide exchange(s) on the state side")
      // control: the same rows without the cut's partitioning do shuffle
      val bare = spark.createDataFrame(
        LineageCut.localCheckpoint(vertices).df.rdd, vertices.schema)
      assert(exchanges(bare)._1 == 1, "control state did not shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", keep)
  }

  test("snapshot scan: manifest pruning composes with parquet pushdown") {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plan-snap")
    val t = root.resolve("t").toString
    try {
      SnapshotTable.create(
        (0L until 100L).map(i => (i, s"d-$i")).toDF("id", "text")
          .repartition(1), t)
      SnapshotTable.append(
        (100L until 200L).map(i => (i, s"d-$i")).toDF("id", "text")
          .repartition(1), t)
      val scanned = SnapshotTable.scan(spark, t,
        Seq(GreaterThanOrEqual("id", 120L), LessThan("id", 130L)))
      // tier 1: the manifest stats plan only the matching file
      assert(scanned.inputFiles.length == 1)
      // tier 2: the residual filter reaches the parquet scan, so row
      // groups inside the kept file are pruned by the reader too
      val plan = executedPlan(scanned)
      assert(plan.contains("PushedFilters: [") &&
        plan.contains("GreaterThanOrEqual(id,120)"),
        s"residual filter not pushed to the parquet scan:\n$plan")
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  /** A repo graph built as perfbench builds it: the catalog sealed as a
    * snapshot table and read back, then the built frames materialized. */
  private lazy val built = {
    import graft.sources.SnapshotTable
    val t = java.nio.file.Files.createTempDirectory("plan-catalog")
      .resolve("t").toString
    SnapshotTable.create(
      graft.model.SourceFiles.generate(spark, nFiles = 3000L, nRepos = 80), t)
    val rg = graphbuild.GraphBuilder.build(SnapshotTable.read(spark, t))
    rg.vertices.count()
    rg.edges.count()
    rg
  }

  test("views of a built graph read its cached frames: no Generate, " +
      "Window or catalog scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val g = built.simple()
    for ((name, view) <- Seq("outDegrees" -> g.outDegrees,
        "undirectedDedup" -> g.undirectedDedup,
        "undirectedDegrees" -> g.undirectedDegrees,
        "canonicalPairs" -> g.canonicalPairs)) {
      val plan = view.queryExecution.executedPlan
      val bad = plan.collect {
        case n @ (_: GenerateExec | _: WindowExec | _: FileSourceScanExec) =>
          n.nodeName
      }
      assert(bad.isEmpty, s"$name plans $bad:\n$plan")
      assert(plan.collect { case m: InMemoryTableScanExec => m }.nonEmpty,
        s"$name does not read the cached edges:\n$plan")
    }
  }

  test("warm Triangles on a built graph: a few jobs, none scanning the " +
      "catalog") {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageSubmitted}
    val g = built.simple()
    apps.Triangles.run(g).count()
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.map(_.name).filter(_.contains("FileScanRDD"))
          .foreach(scans.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val jobs = try jobsDuring(apps.Triangles.run(g))
      finally spark.sparkContext.removeSparkListener(listener)
    // the result cut and the broadcasts its plan runs (4 measured)
    assert(jobs.size <= 5, s"${jobs.size} jobs: $jobs")
    assert(scans.isEmpty, s"stages scanned files: $scans")
  }

  test("the dir view of a built graph is the edges' own cache") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val g = built.simple()
    val p = spark.sessionState.conf.numShufflePartitions
    def relations(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r.cacheBuilder }
    // placing the broadcast tier's view runs no job and holds no copy
    var dir: DataFrame = null
    val held = heldBy {
      val jobs = jobsDuring {
        dir = g.preparedEdges("dir", g.edges.select("src", "dst"), "dst", p)
      }
      assert(jobs.isEmpty, jobs)
    }
    assert(held.isEmpty, s"held $held")
    assert(relations(dir).size == 1 && relations(dir) == relations(g.edges),
      s"dir view:\n${dir.queryExecution.optimizedPlan}")
    // a PageRank run keeps the out-degree placement and its final state's
    // cut, and no other copy
    g.numVertices
    val ranks = heldBy(apps.PageRank.run(g, maxRound = 3))
    assert(ranks.size == 2, s"held $ranks")
  }
}
