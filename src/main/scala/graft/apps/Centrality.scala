package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{IterMetrics, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.LineageCut.Sum
import org.apache.spark.sql.functions._

/** Degree / eigenvector / Katz centrality, reference semantics. */
object Centrality {

  /** Degree centrality = degree/(n-1)
    * (apps/centrality/degree/degree_centrality.h; in/out/both variants per
    * python/graphscope/nx/algorithms/builtin.py:102-201). */
  def degree(g: SimpleGraph, kind: String = "both"): DataFrame = {
    val n = g.numVertices.toDouble
    val d = kind match {
      case "in"   => g.inDegrees
      case "out"  => g.outDegrees
      case "both" =>
        if (g.directed) {
          val i = g.inDegrees.select(col("vid"), col("deg").as("ind"))
          val o = g.outDegrees.select(col("vid"), col("deg").as("outd"))
          i.join(o, "vid").select(col("vid"),
            (col("ind") + col("outd")).as("deg"))
        } else g.outDegrees
    }
    d.select(col("vid"), (col("deg") / lit(n - 1.0)).as("centrality"))
  }

  /** Eigenvector centrality
    * (apps/centrality/eigenvector/eigenvector_centrality.h:51-141):
    * x_0 = 1/N; each round x'(v) = x(v) + Σ_{in-nbr w} x(w) (the self term
    * is the reference's `x[v] = x_last[v]` seed, :92-99), then L2-normalize;
    * stop when Σ|x' - x| < N*tolerance or round >= max_round.
    *
    * Normalization is lazy: the state carries round r's unnormalized `x`
    * with its Σx² (reduced by round r's cut) and round r-1's normalized
    * vector `xl`; round r+1 divides `x` by round r's norm and emits round
    * r's delta, which its cut sums. So when round r's delta meets the
    * tolerance, round r+1's state holds round r's normalized vector. */
  def eigenvector(
      g: SimpleGraph,
      tolerance: Double = 1e-6,
      maxRound: Int = 100,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)
    val (sq, delta) = (Sum("_x2"), Sum("_dx"))
    def normalized(m: IterMetrics) =
      col("x") / lit(math.sqrt(m.values(sq).doubleValue))
    // An empty state has no norm; a delta is known from round 2 on.
    val converged: Seq[IterMetrics] => Boolean = { ms =>
      val m = ms.last
      !m.values.contains(sq) ||
        m.values.get(delta).exists(_.doubleValue < n * tolerance)
    }

    val none = lit(null).cast("double")
    val res = Iterate.run(
      g.vertices.select(col("vid"), lit(1.0 / n).as("x"), none.as("xl"),
        none.as("_x2"), none.as("_dx")).repartition(p, col("vid")),
      maxRound,
      step = (state, prev) => {
        // the initial vector is already normalized (and has no Σx²)
        val cur = state.select(col("vid"), col("xl"),
          (if (prev.values.contains(sq)) normalized(prev) else col("x"))
            .as("x"))
        val msgs = gather(cur.select(col("vid"), col("x").as("value")), -1L)
          .select(col("vid"), col("msg").as("mx"))
        val x = col("x") + coalesce(col("mx"), lit(0.0))
        cur.join(msgs, Seq("vid"), "left").select(col("vid"), x.as("x"),
          col("x").as("xl"), (x * x).as("_x2"),
          abs(col("x") - col("xl")).as("_dx"))
      },
      stop = converged,
      reduce = Seq(sq, delta))
    val centrality = res.metrics.lastOption match {
      case None => col("x")
      case Some(_) if converged(res.metrics) => col("xl")
      case Some(m) => normalized(m)
    }
    res.state.select(col("vid"), centrality.as("centrality"))
  }

  /** Katz centrality (apps/centrality/katz/katz_centrality.h:60-160):
    * x_0 = 0; each round x'(v) = alpha * Σ_{in-nbr w} x(w) + beta
    * (NOT normalized per round); stop when Σ|x' - x| < N*tolerance or
    * round >= max_round; final L2 normalization when `normalized`. Each
    * round's cut reduces both Σ|x' - x| and Σx'². */
  def katz(
      g: SimpleGraph,
      alpha: Double = 0.1,
      beta: Double = 1.0,
      tolerance: Double = 1e-6,
      maxRound: Int = 100,
      normalized: Boolean = true,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val n = g.numVertices.toDouble
    val gather = g.gather("dir", Combine.Sum, n.toLong, p)
    val (sq, delta) = (Sum("_x2"), Sum("_dx"))

    val none = lit(null).cast("double")
    val res = Iterate.run(
      g.vertices.select(col("vid"), lit(0.0).as("x"), none.as("_dx"),
        none.as("_x2")).repartition(p, col("vid")),
      maxRound,
      step = Iterate.invariant { state =>
        val msgs = gather(state.select(col("vid"), col("x").as("value")), -1L)
          .select(col("vid"), col("msg").as("mx"))
        val x = lit(alpha) * coalesce(col("mx"), lit(0.0)) + lit(beta)
        state.join(msgs, Seq("vid"), "left").select(col("vid"), x.as("x"),
          abs(x - col("x")).as("_dx"), (x * x).as("_x2"))
      },
      // an empty state has no delta
      stop = _.last.values.get(delta).forall(_.doubleValue < n * tolerance),
      reduce = Seq(delta, sq))
    // No Σx² (no round ran, or an empty state) or a zero one would yield
    // a 1/0 scale — return the raw scores instead (reference guards its
    // normalizers).
    res.metrics.lastOption.flatMap(_.values.get(sq)).map(_.doubleValue)
      .filter(s => normalized && s > 0.0) match {
      case Some(s) => res.state.select(col("vid"),
        (col("x") * (1.0 / math.sqrt(s))).as("centrality"))
      case None => res.state.select(col("vid"), col("x").as("centrality"))
    }
  }
}
