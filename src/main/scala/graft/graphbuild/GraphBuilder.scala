package graft.graphbuild

import graft.graph.SimpleGraph
import org.apache.spark.sql.{DataFrame, LineageCut, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Derives the link graph from the source-code file table
  * (repo, path, commit, lang, content) — the north-star derivation:
  * vertices are repositories; edges are (a) import links parsed from file
  * contents and (b) path-basename co-occurrence across repos.
  *
  * Equivalent of the reference's CREATE_GRAPH + loader path
  * (core/loader/arrow_fragment_loader.h): an oid->vid dictionary plus a
  * hash-partitioned edge table. The dictionary uses a window row_number over
  * sorted oids — deterministic and partition-invariant; at 10^12-file scale
  * the same dictionary would be built once per catalog snapshot with a
  * sort-based job (it is one global sort over the *distinct repo set*,
  * orders of magnitude smaller than the file table) and reused by every
  * algorithm run.
  */
object GraphBuilder {

  final case class RepoGraph(
      vertices: DataFrame, // (vid: long, oid: string)
      edges: DataFrame) {  // (src: long, dst: long)
    def simple(directed: Boolean = true): SimpleGraph =
      SimpleGraph(vertices.select("vid"), edges, directed)
  }

  /** oid -> dense vid dictionary over the distinct repo names appearing as
    * either a file owner or an import target. vid = global sort rank of
    * the oid — computed DISTRIBUTED: range-partition + sort by oid, count
    * rows per partition, prefix-sum the (tiny, one-per-partition) counts
    * on the driver, then add each row's local ordinal to its partition
    * offset. Deterministic and partition-invariant (the rank is a property
    * of the global sort order, not of where the range boundaries fall) —
    * unlike a `row_number() OVER (ORDER BY ...)` with no partitionBy, which
    * funnels the whole distinct set through ONE task and cannot survive the
    * 10^8-repo scale of the north star. */
  def vertexDictionary(files: DataFrame): DataFrame = {
    val owners = files.select(col("repo").as("oid"))
    val targets = importTargets(files).select(col("to_repo").as("oid"))
    val distinctOids = owners.unionByName(targets).distinct()
    val spark = files.sparkSession
    import spark.implicits._
    // materialize once: the count job and the assignment job must see
    // identical partitions
    val sorted = LineageCut.localCheckpoint(distinctOids
      .repartitionByRange(col("oid"))
      .sortWithinPartitions(col("oid"))).df
      .as[String]
    val counts = sorted.mapPartitions(it => Iterator.single(it.size))
      .collect() // one Int per partition — driver-side prefix sum only
    val offsets = counts.scanLeft(0L)(_ + _)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = offsets(pid)
      it.map { oid => val r = (i, oid); i += 1; r }
    }.toDF("vid", "oid")
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
    * materialized both ways), mapped through the vid dictionary. */
  def build(files: DataFrame, maxFanout: Int = 32): RepoGraph = {
    val dict = vertexDictionary(files).cache()

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
      .where(col("src") =!= col("dst")).distinct()
    RepoGraph(dict, edges)
  }
}
