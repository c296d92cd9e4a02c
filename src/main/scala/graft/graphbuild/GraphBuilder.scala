package graft.graphbuild

import graft.graph.SimpleGraph
import org.apache.spark.sql.{DataFrame, LineageCut, RangeBounds}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Derives the link graph from the source-code file table
  * (repo, path, commit, lang, content) — the north-star derivation:
  * vertices are repositories; edges are (a) import links parsed from file
  * contents and (b) path-basename co-occurrence across repos.
  *
  * Equivalent of the reference's CREATE_GRAPH + loader path
  * (core/loader/arrow_fragment_loader.h): an oid->vid dictionary plus a
  * hash-partitioned edge table, built once and reused by every algorithm
  * run. The dictionary is a lineage cut whose layout is a function of the
  * distinct repo set alone; the edges come out hash-placed by `dst` and
  * cached, which is the placement the broadcast-tier gather reads
  * ([[graft.graph.SimpleGraph.preparedEdges]] uses them in place).
  */
object GraphBuilder {

  final case class RepoGraph(
      vertices: DataFrame, // (vid: long, oid: string)
      edges: DataFrame) {  // (src: long, dst: long)
    /** The graph over these edges. It owns the built dictionary:
      * [[graft.graph.SimpleGraph.unload]] releases it with the edges. */
    def simple(directed: Boolean = true): SimpleGraph =
      SimpleGraph(vertices.select("vid"), edges, directed).owning(vertices)
  }

  /** oid -> dense vid dictionary over the distinct repo names appearing as
    * either a file owner or an import target, as an untyped lineage cut.
    * vid = global sort rank of the oid — computed DISTRIBUTED: cut the
    * distinct oids into ranges whose bounds depend on the oid set alone
    * ([[org.apache.spark.sql.RangeBounds]]), count each range (a tiny
    * driver-side prefix sum gives each range's offset), and add each
    * oid's `row_number` within its range. Deterministic and
    * partition-invariant (the rank is a property of the global sort order,
    * not of where the range boundaries fall) — unlike a `row_number()`
    * window with no partitionBy, which funnels the whole distinct set
    * through ONE task and cannot survive the 10^8-repo scale of the north
    * star. */
  def vertexDictionary(files: DataFrame): DataFrame = {
    val owners = files.select(col("repo").as("oid"))
    val targets = importTargets(files).select(col("to_repo").as("oid"))
    val p = files.sparkSession.sessionState.conf.numShufflePartitions
    // read by the bounds' sample, the range counts and the assignment
    val oids = LineageCut.localCheckpoint(
      owners.unionByName(targets).distinct()).df
    val ranged = oids.select(col("oid"),
      RangeBounds.rangeIndex(oids, Seq("oid"), p).as("range"))
    val counts = ranged.groupBy("range").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L)(_ + counts.getOrElse(_, 0L))
    val dict = LineageCut.localCheckpoint(ranged
      .repartitionById(p, col("range"))
      .select((element_at(typedLit(offsets), col("range") + 1) - 1L +
        row_number().over(Window.partitionBy("range").orderBy("oid")))
        .as("vid"), col("oid"))).df
    LineageCut.release(oids)
    dict
  }

  /** Parse `import org.repoK....` links out of file contents. One row per
    * (owning repo, imported repo), deduplicated. */
  def importTargets(files: DataFrame): DataFrame =
    files.select(col("repo").as("from_repo"),
        explode(expr(
          "regexp_extract_all(content, 'import org\\\\.(repo[0-9]+)', 1)"))
          .as("to_repo_id"))
      .select(col("from_repo"),
        concat(lit("org/"), col("to_repo_id")).as("to_repo"))
      .where(col("from_repo") =!= col("to_repo"))
      .distinct()

  /** Repo pairs sharing a path basename. `maxFanout` caps the number of
    * repos per basename that participate (a routine real-pipeline guard:
    * ubiquitous basenames like README would otherwise induce a quadratic
    * clique; the cap bounds the self-join output at maxFanout^2 per key). */
  def coOccurrencePairs(files: DataFrame, maxFanout: Int = 32): DataFrame = {
    // Basename = filename stem with any trailing `_<digits>` uniquifier
    // stripped (the synthetic table suffixes stems with a globally unique
    // row id — File3_1742.scala and File3_88.java co-occur as "File3";
    // without the strip every stem is unique and the self-join is empty).
    val base = files.select(
      regexp_extract(col("path"), "([^/]+?)(_[0-9]+)?\\.[^.]+$", 1)
        .as("basename"),
      col("repo")).distinct()
    val capped = base
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("basename"))))
      .where(col("n") <= maxFanout).drop("n")
    val a = capped.toDF("basename", "ra")
    val b = capped.toDF("basename", "rb")
    a.join(b, "basename").where(col("ra") < col("rb"))
      .select(col("ra"), col("rb")).distinct()
  }

  /** Full derivation: import links (directed) + co-occurrence (undirected,
    * materialized both ways), mapped through the vid dictionary. The edges
    * are hash-placed by `dst` into the session's shuffle partitions and
    * cached (materialized by their first use). */
  def build(files: DataFrame, maxFanout: Int = 32): RepoGraph = {
    val dict = vertexDictionary(files)

    val imp = importTargets(files)
    val impE = imp
      .join(dict.select(col("oid").as("from_repo"), col("vid").as("src")),
        "from_repo")
      .join(dict.select(col("oid").as("to_repo"), col("vid").as("dst")),
        "to_repo")
      .select("src", "dst")

    val co = coOccurrencePairs(files, maxFanout)
    val coE = co
      .join(dict.select(col("oid").as("ra"), col("vid").as("src")), "ra")
      .join(dict.select(col("oid").as("rb"), col("vid").as("dst")), "rb")
      .select("src", "dst")
    val coBoth = coE.unionByName(
      coE.select(col("dst").as("src"), col("src").as("dst")))

    val edges = impE.unionByName(coBoth)
      .where(col("src") =!= col("dst"))
      .repartition(files.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst"))
      .distinct().persist()
    RepoGraph(dict, edges)
  }
}
