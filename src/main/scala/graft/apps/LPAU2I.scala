package graft.apps

import graft.pregel.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LPA-U2I — weighted feature propagation on a bipartite (user, item)
  * property graph, reference: apps/lpa/lpa_u2i.h:30-249. Distinct from
  * CDLP (SURVEY.md §2.2)!
  *
  * Semantics (edges run user -> item, weight = edge property):
  *   - users start with `prop_num` double features; items with zeros;
  *   - u2i round (even steps): item feature f(i,p) = Σ_{u->i} f(u,p)*w(u,i)
  *     (lpa_u2i.h:168-183);
  *   - i2u round (odd steps): tmp(u,p) = Σ_{u->i} f(i,p)*w(u,i); then
  *     f'(u,p) = f(u,p) when f(u,p) ∈ {0,1} (ground-truth pins), else
  *     (tmp - outdeg(u)*f(u,p)) / (outNbrInDegSum(u) - outdeg(u)) when the
  *     denominator is nonzero, else unchanged (lpa_u2i.h:186-235) — the
  *     degree-weighted mean of OTHER users' features via shared items;
  *   - `maxRound` steps total (the reference counts the initial label
  *     distribution as step 1, so steps 2..maxRound alternate u2i/i2u).
  *     One superstep here is a u2i step followed by its i2u step, with no
  *     cut of the intermediate item features; a trailing u2i step (even
  *     `maxRound`) is skipped, since item features are never returned.
  *
  * Feature vectors are processed via posexplode -> per-(vertex, position)
  * sum -> re-assembly, so the per-round shuffle is a plain combinable
  * aggregation regardless of feature arity.
  *
  * @param users (vid, features: array<double>)
  * @param edges (src = user, dst = item [, weight])
  * @return users with propagated features
  */
object LPAU2I {

  /** Σ_{edges into key} features*weight, element-wise; key is src or dst. */
  private def weightedSum(withFeat: DataFrame, keyCol: String,
      featCol: String): DataFrame =
    withFeat
      .select(col(keyCol).as("vid"), col("weight"),
        posexplode(col(featCol)).as(Seq("pos", "f")))
      .groupBy(col("vid"), col("pos"))
      .agg(sum(col("f") * col("weight")).as("v"))
      .groupBy(col("vid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x("v")).as("wsum"))

  def run(users: DataFrame, edges: DataFrame, maxRound: Int = 10)
      : DataFrame = {
    val e = (if (edges.columns.contains("weight")) edges
      else edges.withColumn("weight", lit(1.0)))
      .select("src", "dst", "weight").persist()

    val outDeg = e.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("outdeg"))
    val inDegItems = e.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
    val outNbrInDegSum = e.join(inDegItems, "dst")
      .groupBy(col("src").as("vid")).agg(sum(col("indeg")).as("onids"))

    val init = users
      .select(col("vid"), col("features"))
      .join(outDeg, Seq("vid"), "left")
      .join(outNbrInDegSum, Seq("vid"), "left")
      .na.fill(0, Seq("outdeg", "onids"))

    val res = Iterate.run(init, (maxRound - 1) / 2,
      step = Iterate.invariant { uState =>
        // u2i: item features = weighted sum of adjacent user features
        val itemFeatures = weightedSum(
          e.join(uState.select(col("vid").as("src"), col("features")),
            "src"),
          "dst", "features")
          .select(col("vid").as("dst"), col("wsum").as("ifeat"))
        // i2u: pull item features back, then the other-users normalization
        val tmp = weightedSum(e.join(itemFeatures, "dst"), "src", "ifeat")
          .select(col("vid"), col("wsum").as("tmp"))
        val joined = uState.join(tmp, Seq("vid"), "left")
        val denom = (col("onids") - col("outdeg")).cast("double")
        val newFeat = zip_with(
          col("features"),
          coalesce(col("tmp"), transform(col("features"), _ => lit(0.0))),
          (f, t) => when(f === 0.0 || f === 1.0, f)
            .when(denom =!= 0.0, (t - col("outdeg") * f) / denom)
            .otherwise(f))
        joined.select(col("vid"), newFeat.as("features"), col("outdeg"),
          col("onids"))
      },
      stop = Iterate.fixedRounds)
    e.unpersist()
    res.state.select("vid", "features")
  }
}
