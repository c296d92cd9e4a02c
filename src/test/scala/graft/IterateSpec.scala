package graft

import graft.pregel.{CheckpointConfig, Iterate}
import graft.sources.SnapshotTable
import java.nio.file.Files
import org.apache.spark.sql.functions._
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
      stopWhenUnchanged = false)
    assert(res.completedRounds == 7)
    assert(res.state.head().getInt(1) == 7)
  }

  test("checkpoint + resume from the newest complete iteration") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val init = Seq((1L, 0)).toDF("vid", "n")
    val cp = CheckpointConfig(Some(dir), runId = "r1")
    // First run: 4 rounds.
    val first = Iterate.run(init, 4, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stopWhenUnchanged = false, checkpoint = cp)
    assert(first.state.head().getInt(1) == 4)
    // Resumed run to 10 rounds must pick up at round 4, not recompute.
    val resumed = Iterate.run(init, 10, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stopWhenUnchanged = false, checkpoint = cp)
    assert(resumed.state.head().getInt(1) == 10)
    assert(resumed.metrics.size == 6, "only rounds 5..10 re-ran")
    // One snapshot per iteration, each carrying its superstep's
    // convergence metrics in the manifest summary.
    val table = s"$dir/r1"
    val hist = SnapshotTable.snapshots(spark, table)
    assert(hist.map(_.summary("iteration")) == (1 to 10).map(_.toString))
    // Per-file lineage: every iteration's file rows sum to the state
    // size (1 here) and carry a content checksum.
    hist.foreach { m =>
      assert(m.files.map(_.rows).sum == 1L, s"v${m.version} rows")
      assert(m.files.forall(_.checksum.nonEmpty), s"v${m.version} checksum")
    }
  }

  test("resume refuses a checkpoint that contradicts its lineage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-bad").toString
    // one partition, so each snapshot is one two-row data file
    val init = Seq((1L, 0), (2L, 10)).toDF("vid", "n").coalesce(1)
    val cp = CheckpointConfig(Some(dir), runId = "r1")
    Iterate.run(init, 3, (s, _) =>
      s.select(col("vid"), (col("n") + 1).as("n")),
      stopWhenUnchanged = false, checkpoint = cp)
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
        stopWhenUnchanged = false, checkpoint = cp)
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
}
