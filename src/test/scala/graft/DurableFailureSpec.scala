package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

import graft.apps.{PageRank, WCC}
import graft.graph.EdgeBlocks.Combine
import graft.graph.SimpleGraph
import graft.pregel.{CheckpointConfig, IterMetrics, Iterate}
import graft.sources.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The durable path under failure. A job that fails midway — a commit's
  * write, or a checkpointed round's cut, which writes the round's
  * snapshot in the same job — publishes nothing: the current version is
  * the one before, it validates, a resumed run ends where an
  * uninterrupted one does, and `vacuum` removes what the failed job left
  * in the table's data dir. The failure is a column expression that
  * throws in one partition; the session is `local[4]`, where a failed
  * task is not retried. */
class DurableFailureSpec extends SparkSpec {

  import spark.implicits._

  /** `c`, except that it throws in partition 0 when `fail` holds. */
  private def failing(c: Column, fail: Boolean): Column =
    if (!fail) c
    else when(spark_partition_id() === 0,
      raise_error(lit("injected failure"))).otherwise(c)

  private def p = spark.sessionState.conf.numShufflePartitions

  /** A path of 20 vertices (WCC needs 19 rounds on it) and 40 vertices
    * each pointing at another. */
  private lazy val g = SimpleGraph((1L to 60L).toDF("vid"),
    ((1L until 20L).map(i => (i, i + 1)) ++
      (21L to 60L).map(i => (i, i * 7 % 60 + 1))).toDF("src", "dst"),
    directed = true)

  private def rmrf(dir: String): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d))
      Files.walk(d).sorted(Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  /** Runs `f`, which must fail with the injected failure, and waits until
    * no task of the failed job still runs. */
  private def failed(f: => Any): Unit = {
    val e = intercept[Exception](f)
    assert(e.getMessage.contains("injected failure"), e)
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.statusTracker.getExecutorInfos
        .exists(_.numRunningTasks > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** The table's data dirs and files, relative to its root. */
  private def onDisk(t: String): Set[String] = {
    val root = Paths.get(t)
    Files.walk(root.resolve("data")).iterator().asScala
      .filter(f => f != root.resolve("data") &&
        !f.getFileName.toString.endsWith(".crc"))
      .map(f => root.relativize(f).toString).toSet
  }

  /** What the retained manifests reference: their files and dirs. */
  private def referenced(t: String): Set[String] =
    SnapshotTable.snapshots(spark, t).flatMap(_.files.map(_.path))
      .flatMap(f => Seq(f, f.substring(0, f.lastIndexOf('/')))).toSet

  /** The table after a failed job: still at version `v`, valid, with
    * something left on disk that `vacuum` removes, and nothing else. */
  private def leftBehind(t: String, v: Int): Unit = {
    assert(SnapshotTable.currentVersionOpt(spark, t) == Some(v))
    SnapshotTable.validate(spark, t, v)
    assert(!onDisk(t).subsetOf(referenced(t)), "the failed job left nothing")
    assert(SnapshotTable.vacuum(spark, t) >= 1)
    assert(onDisk(t) == referenced(t))
    SnapshotTable.validate(spark, t, v)
  }

  test("an append whose job fails midway publishes nothing; vacuum " +
      "removes its files") {
    val dir = Files.createTempDirectory("fail-append").toString
    val t = s"$dir/t"
    try {
      def docs(ids: Range) = ids.map(i => (i.toLong, s"text-$i"))
        .toDF("id", "text").repartition(3)
      SnapshotTable.create(docs(0 until 30), t)
      val before = SnapshotTable.read(spark, t).collect().toSet
      failed(SnapshotTable.append(docs(30 until 60).select(col("id"),
        failing(col("text"), fail = true).as("text")), t))
      leftBehind(t, 1)
      assert(SnapshotTable.read(spark, t).collect().toSet == before)
      // the table takes the same append afterwards
      assert(SnapshotTable.append(docs(30 until 60), t) == 2)
      assert(SnapshotTable.read(spark, t).count() == 60)
    } finally rmrf(dir)
  }

  test("a checkpointed WCC run whose round fails midway resumes to the " +
      "uninterrupted labels") {
    val dir = Files.createTempDirectory("fail-wcc").toString
    try {
      val cp = CheckpointConfig(Some(dir), runId = "w")
      val k = 3
      val gather = g.gather("und", Combine.Min, g.numVertices, p)
      // WCC's step, failing in round k
      val step = (state: DataFrame, prev: IterMetrics) => {
        val msgs = gather(state.where(col("_changed") === 1)
            .select(col("vid"), col("comp").as("value")), prev.changed)
          .select(col("vid"), col("msg").as("mc"))
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"),
          failing(least(col("comp"), coalesce(col("mc"), col("comp"))),
            prev.iteration + 1 == k).as("comp"),
          when(coalesce(col("mc"), col("comp")) < col("comp"), lit(1))
            .otherwise(lit(0)).as("_changed"))
      }
      failed(Iterate.run(g.vertices.select(col("vid"), col("vid").as("comp"),
        lit(1).as("_changed")).repartition(p, col("vid")), 200, step,
        checkpoint = cp))
      leftBehind(s"$dir/w", k - 1)
      assert(SnapshotTable.manifest(spark, s"$dir/w", k - 1)
        .summary("iteration") == (k - 1).toString)
      val (resumed, rounds) = WCC.runWithRounds(g, checkpoint = cp)
      assert(rounds > k)
      val want = WCC.run(g).as[(Long, Long)].collect().toSet
      assert(resumed.as[(Long, Long)].collect().toSet == want)
      assert(want.count(_._2 == 1L) >= 20)
    } finally rmrf(dir)
  }

  test("a checkpointed PageRank run whose round fails midway resumes to " +
      "the uninterrupted ranks") {
    val dir = Files.createTempDirectory("fail-pagerank").toString
    try {
      val cp = CheckpointConfig(Some(dir), runId = "pr")
      val (k, rounds, delta) = (4, 10, 0.85)
      val n = g.numVertices.toDouble
      val gather = g.gather("dir", Combine.Sum, n.toLong, p)
      val dangling = g.danglingVertices(p).toDouble
      def base(danglingSum: Column): Column =
        lit((1.0 - delta) / n) + lit(delta) * danglingSum / lit(n)
      // PageRank's state and step, failing in round k
      val init = g.preparedOutDegrees(p).select(col("vid"), col("deg"),
        lit(1.0 / n).as("rank"), base(lit(1.0 / n) * lit(dangling)).as("b"))
      val step = (state: DataFrame, prev: IterMetrics) => {
        val msgs = gather(state.where(col("deg") > 0)
            .select(col("vid"), (col("rank") / col("deg")).as("value")), -1L)
          .select(col("vid"), col("msg").as("msum"))
        state.join(msgs, Seq("vid"), "left").select(
          col("vid"), col("deg"),
          failing(when(col("deg") === 0L, col("b"))
            .otherwise(lit(delta) * coalesce(col("msum"), lit(0.0)) +
              col("b")), prev.iteration + 1 == k).as("rank"),
          base(col("b") * lit(dangling)).as("b"))
      }
      failed(Iterate.run(init, rounds, step, stop = Iterate.fixedRounds,
        checkpoint = cp))
      leftBehind(s"$dir/pr", k - 1)
      def ranks(df: DataFrame) = df.as[(Long, Double)].collect().toMap
      val resumed = ranks(PageRank.run(g, maxRound = rounds, checkpoint = cp))
      assert(SnapshotTable.currentVersionOpt(spark, s"$dir/pr") ==
        Some(rounds))
      assertAllClose(resumed, ranks(PageRank.run(g, maxRound = rounds)),
        label = "resumed PageRank")
    } finally rmrf(dir)
  }
}
