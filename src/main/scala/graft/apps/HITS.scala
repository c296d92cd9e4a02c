package graft.apps

import graft.graph.SimpleGraph
import graft.graph.EdgeBlocks.Combine
import graft.pregel.{IterMetrics, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.LineageCut.{Max, Reduction, Sum}
import org.apache.spark.sql.functions._

/** HITS — alternating authority/hub power iteration with per-round
  * max-normalization, reference semantics (apps/hits/hits.h:35-204):
  *
  *   - hub_0 = 1/N (hits_context.h:42), auth_0 = 0;
  *   - auth(u) = Σ_{in-nbr w} hub_last(w); hub(u) = Σ_{out-nbr w} auth(w);
  *   - both vectors divided by their global max each round
  *     (hits.h:121-150, grape::Communicator::Max);
  *   - stop when Σ|hub - hub_last| <= tolerance or step >= max_round
  *     (hits.h:162-164);
  *   - when `normalized`, final division by the vector sums (hits.h:176).
  *
  * The maxes and the delta are reductions of each round's cut (SURVEY.md
  * §4.1), and normalization is lazy: the state carries round r's raw
  * `hub`/`auth` (whose maxes round r's cut reduces) and round r-1's
  * normalized `hl`/`al`; round r+1 divides by round r's maxes and emits
  * round r's hub delta, which its cut sums.
  */
object HITS {

  /** @return (vid, hub, auth) */
  def run(
      g: SimpleGraph,
      tolerance: Double = 0.01,
      maxRound: Int = 100,
      normalized: Boolean = true,
      numPartitions: Int = 0): DataFrame = {
    val spark = g.spark
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    val n = g.numVertices.toDouble
    // auth(u) = sum of hub over in-neighbors: flow src->dst on the edges;
    // hub(u) = sum of auth over out-neighbors: flow dst->src (reversed).
    val toAuth = g.gather("dir", Combine.Sum, n.toLong, p)
    val toHub = g.gather("rev", Combine.Sum, n.toLong, p)
    val (maxH, maxA, delta) = (Max("_mh"), Max("_ma"), Sum("_dh"))
    def scaled(m: IterMetrics) = (col("hub") / lit(m.values(maxH)),
      col("auth") / lit(m.values(maxA)))
    // Stop when the previous round's delta meets the tolerance, or when a
    // vector has no positive max (an edgeless, drained or empty graph:
    // normalizing would divide by zero, so the pre-round vectors are kept;
    // the reference CHECK-guards its normalization scalars).
    val stopped: Seq[IterMetrics] => Boolean = { ms =>
      val v = ms.last.values.get(_: Reduction).map(_.doubleValue)
      v(delta).exists(_ <= tolerance) ||
        Seq(maxH, maxA).exists(v(_).forall(_ <= 0.0))
    }

    val none = lit(null).cast("double")
    val res = Iterate.run(
      g.vertices.select(col("vid"), lit(1.0 / n).as("hub"),
        lit(0.0).as("auth"), none.as("hl"), none.as("al"), none.as("_dh"),
        none.as("_mh"), none.as("_ma")).repartition(p, col("vid")),
      maxRound,
      step = (state, prev) => {
        // the initial vectors are not scaled (and have no maxes)
        val (h, a) = if (prev.values.contains(maxH)) scaled(prev)
          else (col("hub"), col("auth"))
        val cur = state.select(col("vid"), h.as("h"), a.as("a"), col("hl"))
        val authMsgs =
          toAuth(cur.select(col("vid"), col("h").as("value")), -1L)
            .select(col("vid"), col("msg").as("na"))
        val s1 = cur.join(authMsgs, Seq("vid"), "left").select(
          col("vid"), col("h"), col("a"), col("hl"),
          coalesce(col("na"), lit(0.0)).as("auth"))
        val hubMsgs =
          toHub(s1.select(col("vid"), col("auth").as("value")), -1L)
            .select(col("vid"), col("msg").as("nh"))
        val hub = coalesce(col("nh"), lit(0.0))
        // `_mh`/`_ma` copy the raw vectors for the cut's maxes: reduced
        // columns leave the result, which the raw vectors must not
        s1.join(hubMsgs, Seq("vid"), "left").select(col("vid"),
          hub.as("hub"), col("auth"), col("h").as("hl"), col("a").as("al"),
          abs(col("h") - col("hl")).as("_dh"), hub.as("_mh"),
          col("auth").as("_ma"))
      },
      stop = stopped,
      reduce = Seq(maxH, maxA, delta))

    val (hub, auth) = res.metrics.lastOption match {
      case None => (col("hub"), col("auth"))
      case Some(_) if stopped(res.metrics) => (col("hl"), col("al"))
      case Some(m) => scaled(m)
    }
    val state = res.state.select(col("vid"), hub.as("hub"), auth.as("auth"))
    if (!normalized) state
    else {
      // A zero sum (auth on an edgeless graph) leaves that vector
      // unnormalized, as Katz guards its normalizer.
      val r = state.agg(sum(col("hub")), sum(col("auth"))).head()
      def norm(c: String, i: Int) =
        if (r.isNullAt(i) || r.getDouble(i) == 0.0) col(c)
        else col(c) / lit(r.getDouble(i))
      state.select(col("vid"), norm("hub", 0).as("hub"),
        norm("auth", 1).as("auth"))
    }
  }
}
