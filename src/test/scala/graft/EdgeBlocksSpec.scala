package graft

import graft.graph.{EdgeBlocks, SimpleGraph, Strategy}
import graft.graph.EdgeBlocks.Combine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.Random

/** Randomized equivalence oracles for the superstep gather: every combine,
  * at every tier, must produce exactly the rows of its plain join +
  * groupBy formulation on arbitrary (multi-)graphs, arbitrary partial
  * states, duplicate state vids, and any block count. Every superstep app
  * (PageRank/WCC/BFS/SSSP/KShell/CDLP/HITS/Centrality/Louvain) gathers
  * through it, so it gets direct generative coverage, not just app-level
  * spot checks.
  */
class EdgeBlocksSpec extends SparkSpec {

  import spark.implicits._

  private def randomEdges(rng: Random, nV: Int, nE: Int): DataFrame =
    (0 until nE).map { _ =>
      val s = rng.nextInt(nV).toLong
      var d = rng.nextInt(nV).toLong
      if (d == s) d = (s + 1) % nV // no self loops, like the apps' graphs
      (s, d, (1 + rng.nextInt(9)).toDouble)
    }.toDF("src", "dst", "weight").repartition(5)

  /** State over a random subset of vids; optionally with duplicate vids
    * (each duplicate row joins every edge, as in the plain join). */
  private def randomState(rng: Random, nV: Int, dups: Boolean): DataFrame = {
    val base = (0 until nV).filter(_ => rng.nextBoolean()).map { v =>
      (v.toLong, rng.nextInt(100).toLong)
    }
    val rows = if (dups) base ++ base.take(base.size / 3) else base
    rng.shuffle(rows).toDF("vid", "value").repartition(3)
  }

  private val trials = Seq(
    // (seed, nV, nE, p, dup-state-vids)
    (1L, 30, 120, 4, false),
    (2L, 50, 300, 7, false),
    (3L, 12, 40, 3, true),
    (4L, 60, 1, 4, false), // single edge
    (5L, 40, 200, 1, false) // everything in one block
  )

  /** The plain join + groupBy formulation of each combine over
    * (src, dst, weight) edges and a (vid, value) state — what every tier
    * of the gather must reproduce, row for row. */
  private def oracle(c: Combine, edges: DataFrame, state: DataFrame)
      : DataFrame = {
    val j = edges.join(state.select(col("vid").as("src"), col("value")),
      "src")
    val byDst = j.groupBy(col("dst").as("vid"))
    val byLabel = j.groupBy(col("dst").as("vid"), col("value").as("label"))
    c match {
      case Combine.Sum => byDst.agg(sum(col("value").cast("double")).as("msg"))
      case Combine.Min => byDst.agg(min(col("value")).as("msg"))
      case Combine.MinPlus =>
        byDst.agg(min(col("value").cast("double") + col("weight")).as("msg"))
      case Combine.Collect =>
        byDst.agg(collect_list(col("value")).as("msg"))
      case Combine.LabelCount => byLabel.agg(count(lit(1)).as("msg"))
      case Combine.LabelSum => byLabel.agg(sum(col("weight")).as("msg"))
    }
  }

  /** Collect's arrays are compared sorted: their order is unspecified. */
  private def sorted(c: Combine, df: DataFrame): DataFrame =
    if (c == Combine.Collect) df.withColumn("msg", sort_array(col("msg")))
    else df

  /** Blocks of the edges a combine reads: weighted ones only when the
    * combine needs the weight, so both block shapes are exercised. */
  private def blocksFor(c: Combine, edges: DataFrame, p: Int,
      salts: Option[DataFrame] = None): EdgeBlocks.CsrGraph = {
    val e = if (c.weighted) edges else edges.select("src", "dst")
    EdgeBlocks.CsrGraph(EdgeBlocks.build(e, p, salts), salts)
  }

  private val tiers =
    Seq(Strategy.Broadcast, Strategy.Shuffle, Strategy.CsrGather)

  // One generative oracle per combine. Each runs the five trials under
  // every tier of the gather: the two join plans and the CSR scan.
  private val oracleTests = Seq(
    Combine.Sum -> "gatherSum == join + groupBy(dst).sum on random graphs",
    Combine.Min -> "gatherMin == join + groupBy(dst).min on random graphs",
    Combine.MinPlus -> ("gatherMinPlus == join + groupBy(dst).min(value + " +
      "w) on random weighted graphs"),
    Combine.LabelSum -> ("gatherLabelSum == join + groupBy(dst, " +
      "label(src)).sum(w) on random weighted graphs"),
    Combine.LabelCount -> ("gatherLabelCount == join + groupBy(dst, " +
      "label(src)).count on random multigraphs"),
    Combine.Collect -> ("gatherCollect == join + collect_list " +
      "(order-insensitive) on random graphs"))

  for ((c, name) <- oracleTests) test(name) {
    for ((seed, nV, nE, p, dups) <- trials) {
      val rng = new Random(seed)
      val edges = randomEdges(rng, nV, nE)
      val state = randomState(rng, nV, dups)
      val csr = blocksFor(c, edges, p)
      val want = sorted(c, oracle(c, edges, state))
      for (tier <- tiers) {
        val got = EdgeBlocks.superstep(tier, c, p, _ => edges, csr)(
          state, -1L)
        assertSameRows(sorted(c, got), want, s"$c $tier seed=$seed")
      }
    }
  }

  test("salted builds split hub adjacency and preserve every gather " +
      "exactly") {
    val rng = new Random(11L)
    val nV = 40
    val p = 6
    // Hub vertex 0: out-degree 400 (a multigraph — duplicates expected);
    // everyone else stays under the salt threshold.
    val hub = (0 until 400).map { _ =>
      (0L, (1 + rng.nextInt(nV - 1)).toLong, (1 + rng.nextInt(9)).toDouble)
    }
    val rest = (0 until 300).map { _ =>
      val s = rng.nextInt(nV).toLong
      var d = rng.nextInt(nV).toLong
      if (d == s) d = (s + 1) % nV
      (s, d, (1 + rng.nextInt(9)).toDouble)
    }
    val edges = rng.shuffle(hub ++ rest)
      .toDF("src", "dst", "weight").repartition(5)

    assert(EdgeBlocks.hubSalts(edges, 1000L, p).isEmpty,
      "no hub above a high threshold -> no salt table at all")
    val salts = EdgeBlocks.hubSalts(edges, 25L, p)
    assert(salts.isDefined)
    val k = salts.get.where(col("vid") === 0L).head().getInt(1)
    assert(k == p, "k = min(ceil(400/25) = 16, p = 6) = 6")

    val blocks = EdgeBlocks.build(edges.select("src", "dst"), p, salts)
    // The hub's adjacency must actually split across blocks...
    val hubBlocks = blocks.collect().count(_.srcIds.contains(0L))
    assert(hubBlocks >= 2, s"hub adjacency in $hubBlocks block(s)")
    // ...without losing or duplicating a single edge.
    assert(blocks.collect().map(_.dstIndex.length).sum == 700)

    val state = randomState(rng, nV, dups = true)
    for ((c, _) <- oracleTests) {
      val got = EdgeBlocks.scan(blocksFor(c, edges, p, salts), c, state, p)
      assertSameRows(sorted(c, got), sorted(c, oracle(c, edges, state)),
        s"salted $c")
    }
    salts.foreach(_.unpersist())
  }

  test("packing und of a non-simple graph runs its dedup exchange once " +
      "and keeps only the blocks") {
    val g = SimpleGraph(
      Seq(0L, 1L, 2L, 3L, 4L).toDF("vid"),
      Seq((0L, 1L), (1L, 0L), (1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L),
        (3L, 4L), (4L, 0L), (4L, 3L)).toDF("src", "dst"),
      directed = true)
    var csr: EdgeBlocks.CsrGraph = null
    var stages = Seq.empty[Set[String]]
    val held = heldBy {
      stages = stageScopesDuring { csr = g.preparedBlocks("und", 4) }
    }
    try {
      // the union + distinct's map side is the one stage with a Union
      assert(stages.count(_.contains("Union")) == 1, stages.mkString("\n"))
      assert(g.undirectedDedup.storageLevel == StorageLevel.NONE,
        "the view stays cached after the pack")
      assert(held.size == 1, s"held: $held")
      val packed = csr.blocks.collect().toSeq.flatMap { b =>
        b.srcIds.indices.flatMap(i =>
          (b.dstOffsets(i) until b.dstOffsets(i + 1)).map(j =>
            (b.srcIds(i), b.dstUnique(b.dstIndex(j)))))
      }
      assert(packed.sorted ==
        g.undirectedDedup.as[(Long, Long)].collect().toSeq.sorted)
    } finally g.unload()
  }

  test("empty state and disjoint state both gather to zero rows") {
    val rng = new Random(9L)
    val edges = randomEdges(rng, 20, 60)
    val csr = EdgeBlocks.CsrGraph(
      EdgeBlocks.build(edges.select("src", "dst"), 4), None)
    val empty = Seq.empty[(Long, Long)].toDF("vid", "value")
    assert(EdgeBlocks.scan(csr, Combine.Sum, empty, 4).count() == 0L)
    // vids outside the graph's vertex range contribute nothing
    val disjoint = Seq((1000L, 5L), (2000L, 7L)).toDF("vid", "value")
    assert(EdgeBlocks.scan(csr, Combine.Min, disjoint, 4).count() == 0L)
  }
}
