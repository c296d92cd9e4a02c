package graft

import graft.pregel.{CheckpointConfig, IterMetrics, Iterate}
import graft.sources.SnapshotTable
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.LineageCut.{Max, Min, Reduction, Sum}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Superstep runner: convergence, metrics, checkpoint + resume. */
class IterateSpec extends SparkSpec {

  test("stops at fixpoint and reports metrics") {
    import spark.implicits._
    // state: countdown to 0 -> changed goes to 0 after 5 rounds
    val init = Seq((1L, 5), (2L, 3)).toDF("vid", "n")
    val res = Iterate.run(init, 100, (s, _) =>
      s.select(col("vid"),
        greatest(col("n") - 1, lit(0)).as("n"),
        when(col("n") > 0, 1).otherwise(0).as("_changed")))
    assert(res.completedRounds == 6) // 5 changing rounds + 1 fixpoint round
    assert(res.metrics.last.changed == 0)
    assert(res.metrics.head.changed == 2)
    assert(res.state.columns.toSeq == Seq("vid", "n"))
  }

  test("fixed-round mode runs exactly maxRounds") {
    import spark.implicits._
    val init = Seq((1L, 0)).toDF("vid", "n")
    val res = Iterate.run(init, 7, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stop = Iterate.fixedRounds)
    assert(res.completedRounds == 7)
    assert(res.state.head().getInt(1) == 7)
    // the lineage cut counts the state every round, frontier or not
    assert(res.metrics.map(_.rows) == Seq.fill(7)(1L))
    assert(res.metrics.forall(_.changed == -1L))
  }

  test("checkpoint + resume from the newest complete iteration") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val init = Seq((1L, 0)).toDF("vid", "n")
    val cp = CheckpointConfig(Some(dir), runId = "r1")
    // First run: 4 rounds.
    val first = Iterate.run(init, 4, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stop = Iterate.fixedRounds, checkpoint = cp)
    assert(first.state.head().getInt(1) == 4)
    // Resumed run to 10 rounds must pick up at round 4, not recompute.
    val resumed = Iterate.run(init, 10, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stop = Iterate.fixedRounds, checkpoint = cp)
    assert(resumed.state.head().getInt(1) == 10)
    assert(resumed.metrics.size == 6, "only rounds 5..10 re-ran")
    // One snapshot per iteration, each carrying its superstep's
    // convergence metrics in the manifest summary.
    val table = s"$dir/r1"
    val hist = SnapshotTable.snapshots(spark, table)
    assert(hist.map(_.summary("iteration")) == (1 to 10).map(_.toString))
    assert(hist.forall(_.summary("stateRows") == "1"), "fixed-round rows")
    // Per-file lineage: every iteration's file rows sum to the state
    // size (1 here) and carry a content checksum.
    hist.foreach { m =>
      assert(m.files.map(_.rows).sum == 1L, s"v${m.version} rows")
      assert(m.files.forall(_.checksum.nonEmpty), s"v${m.version} checksum")
    }
  }

  test("a resumed run's step sees the reduction values the " +
      "uninterrupted run saw") {
    import spark.implicits._
    // quarters: every sum is exact, whatever order the stored files fold in
    val init = (1L to 6L).map(v => (v, v * 0.25)).toDF("vid", "_x")
      .repartition(3)
    val reduce = Seq(Sum("_x"), Max("_x"), Min("_x"))
    def run(rounds: Int, cp: CheckpointConfig,
        seen: mutable.Map[Int, Map[Reduction, Number]]) =
      Iterate.run(init, rounds, (s: DataFrame, prev: IterMetrics) => {
        seen(prev.iteration + 1) = prev.values
        s.select(col("vid"), (col("_x") * 2 - 0.25).as("_x"))
      }, stop = Iterate.fixedRounds, checkpoint = cp, reduce = reduce)
    val full = mutable.Map.empty[Int, Map[Reduction, Number]]
    val whole = run(6, CheckpointConfig(), full)
    // round 1 sees the initial state's cut
    assert(full(1) == Map(Sum("_x") -> 5.25, Max("_x") -> 1.5,
      Min("_x") -> 0.25))
    assert(whole.metrics.init.map(_.values) == (2 to 6).map(full))
    assert(whole.state.columns.toSeq == Seq("vid"), "reduced column kept")

    val dir = Files.createTempDirectory("graft-ckpt-reduce").toString
    val cp = CheckpointConfig(Some(dir), runId = "r")
    run(3, cp, mutable.Map.empty)
    val resumed = mutable.Map.empty[Int, Map[Reduction, Number]]
    val res = run(6, cp, resumed)
    assert(resumed.keySet == Set(4, 5, 6))
    (4 to 6).foreach(r => assert(resumed(r) == full(r), s"round $r"))
    assert(res.metrics.map(_.values) == whole.metrics.drop(3).map(_.values))
    // each snapshot's summary records its round's values
    val summary = SnapshotTable.snapshots(spark, s"$dir/r").last.summary
    assert(summary("Sum(_x)") == whole.metrics.last.values(Sum("_x"))
      .toString)
  }

  test("resume refuses a checkpoint that contradicts its lineage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-bad").toString
    // one partition, so each snapshot is one two-row data file
    val init = Seq((1L, 0), (2L, 10)).toDF("vid", "n").coalesce(1)
    val cp = CheckpointConfig(Some(dir), runId = "r1")
    Iterate.run(init, 3, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stop = Iterate.fixedRounds, checkpoint = cp)
    // Truncate the newest checkpoint without touching its manifest:
    // overwrite v3's data file with one that holds fewer rows.
    val table = s"$dir/r1"
    val Seq(file) = SnapshotTable.manifest(spark, table, 3).files
    assert(file.rows == 2L)
    val victim = java.nio.file.Paths.get(table, file.path)
    val shorter = Files.createTempDirectory("graft-ckpt-short").toString
    spark.read.parquet(victim.toString).limit(1)
      .coalesce(1).write.mode("overwrite").parquet(shorter)
    val part = Files.list(java.nio.file.Paths.get(shorter)).iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, victim,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(
      victim.resolveSibling(s".${victim.getFileName}.crc"))
    val e = intercept[IllegalArgumentException] {
      Iterate.run(init, 5, (s, _) =>
        s.select(col("vid"), (col("n") + 1).as("n")),
        stop = Iterate.fixedRounds, checkpoint = cp)
    }
    assert(e.getMessage.contains("contradicts its lineage"))
  }

  test("snapshot = false (the removed bare-parquet format) is refused") {
    val e = intercept[IllegalArgumentException] {
      CheckpointConfig(Some("ckpt"), snapshot = false)
    }
    assert(e.getMessage.contains("bare-parquet"))
    assert(e.getMessage.contains("removed"))
  }

  test("a run releases each round's cut: only the final state's remains") {
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    var res: Iterate.Result = null
    val held = heldBy {
      res = Iterate.run(
        (0L until 8L).toDF("vid").select(col("vid"), lit(0).as("n")), 5,
        (s, _) => s.select(col("vid"), (col("n") + 1).as("n")),
        stop = Iterate.fixedRounds)
    }
    // a cut's storage is the chunk RDD its leaf's view reads
    val last = res.state.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.dependencies.head.rdd.id }
    assert(held.keySet == last.toSet && held.size == 1,
      s"held $held, final state's cut $last")
    assert(res.state.agg(sum("n")).head().getLong(0) == 8L * 5)
  }

  test("an invariant step is called once per run, and once by a resumed " +
      "run") {
    import spark.implicits._
    val init = (0L until 6L).toDF("vid").select(col("vid"), lit(0L).as("n"))
      .repartition(2, col("vid"))
    var calls = 0
    def run(rounds: Int, cp: CheckpointConfig) = Iterate.run(init, rounds,
      Iterate.invariant { s =>
        calls += 1
        s.select(col("vid"), (col("n") + col("vid")).as("n"))
      }, stop = Iterate.fixedRounds, checkpoint = cp)
    val whole = run(7, CheckpointConfig())
    assert(calls == 1)
    assert(whole.state.as[(Long, Long)].collect().toMap ==
      (0L until 6L).map(v => v -> v * 7).toMap)
    val cp = CheckpointConfig(
      Some(Files.createTempDirectory("graft-ckpt-inv").toString), "inv")
    calls = 0
    run(3, cp)
    assert(calls == 1)
    calls = 0
    val resumed = run(7, cp)
    assert(calls == 1, "the resumed run builds its step once")
    assert(resumed.metrics.map(_.iteration) == (4 to 7))
    assertSameRows(resumed.state, whole.state)
  }

  test("an invariant step over a self-join equals the per-round step, " +
      "bit for bit") {
    import spark.implicits._
    val init = (0L until 40L).map(v => (v, v * 0.1)).toDF("vid", "x")
      .repartition(4, col("vid"))
    // the state twice: the analyzer gives the second scan its own
    // attributes, and both must follow the state from round to round
    def step(s: DataFrame): DataFrame =
      s.join(s.select(col("vid"), (col("x") * 0.7).as("y")), "vid")
        .select(col("vid"), (col("x") / 3.0 + col("y") + 0.01).as("x"))
    def rows(r: Iterate.Result) =
      r.state.as[(Long, Double)].collect().sortBy(_._1).toSeq
    val invariant = Iterate.run(init, 6, Iterate.invariant(step),
      stop = Iterate.fixedRounds)
    val perRound = Iterate.run(init, 6, (s, _) => step(s),
      stop = Iterate.fixedRounds)
    assert(rows(invariant) == rows(perRound))
    assert(invariant.metrics.map(_.rows) == perRound.metrics.map(_.rows))
  }

  test("an invariant step is analyzed and optimized once, whatever the " +
      "round count") {
    import spark.implicits._
    val init = (0L until 20L).toDF("vid").select(col("vid"), lit(1L).as("n"))
      .repartition(4, col("vid"))
    def step(s: DataFrame): DataFrame = s.join(
        s.groupBy((col("vid") % 5).as("k")).agg(sum(col("n")).as("t")),
        (col("vid") % 5) === col("k"), "left")
      .select(col("vid"), (col("n") + col("t") % 3).as("n"))
    def passes(rounds: Int, f: (DataFrame, IterMetrics) => DataFrame) = {
      var optimized = 0L
      val analyzed = analyzerPasses {
        optimized = ruleRuns("ColumnPruning") {
          Iterate.run(init, rounds, f, stop = Iterate.fixedRounds)
        }
      }
      (analyzed, optimized)
    }
    val invariant = Iterate.invariant(step)
    passes(2, invariant) // warm-up
    val (a2, o2) = passes(2, invariant)
    val (a6, o6) = passes(6, invariant)
    assert(a2 > 0 && o2 > 0, "the first round is analyzed and optimized")
    assert(a6 == a2 && o6 == o2, s"2 rounds: ($a2, $o2), 6 rounds: ($a6, $o6)")
    // control: a step that may read `prev` is built every round
    val (b2, _) = passes(2, (s, _) => step(s))
    val (b6, _) = passes(6, (s, _) => step(s))
    assert(b6 > b2, s"per-round step: $b2 passes for 2 rounds, $b6 for 6")
  }

  test("metrics and the snapshot summary report the cut's own partition " +
      "count") {
    import spark.implicits._
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    val dir = Files.createTempDirectory("graft-ckpt-parts").toString
    val init = (0L until 12L).toDF("vid").select(col("vid"), lit(0).as("n"))
      .repartition(3, col("vid"))
    val res = Iterate.run(init, 2,
      (s, _) => s.select(col("vid"), (col("n") + 1).as("n")),
      stop = Iterate.fixedRounds,
      checkpoint = CheckpointConfig(Some(dir), runId = "p"))
    assert(res.metrics.map(_.numPartitions) == Seq(3, 3))
    assert(SnapshotTable.snapshots(spark, s"$dir/p")
      .map(_.summary("numPartitions")) == Seq("3", "3"))
  }

  test("a run releases its cuts without Spark's lineage warning") {
    import spark.implicits._
    val warning = "was locally checkpointed"
    // control: Spark's own unpersist of a local checkpoint warns
    val rdd = spark.sparkContext.parallelize(1 to 4, 2)
    rdd.localCheckpoint()
    rdd.count()
    assert(warningsDuring(rdd.unpersist()).exists(_.contains(warning)))
    val logged = warningsDuring {
      Iterate.run((0L until 8L).toDF("vid").select(col("vid"), lit(0).as("n")),
        5, (s, _) => s.select(col("vid"), (col("n") + 1).as("n")),
        stop = Iterate.fixedRounds)
    }
    assert(!logged.exists(_.contains(warning)), logged.mkString("\n"))
  }
}
