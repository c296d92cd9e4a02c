package graft.pregel

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.functions._

/** Per-iteration lineage + convergence metrics, one row per superstep
  * (north rule: "checkpoints per-iteration vertex state ... with
  * per-partition lineage and convergence metrics for resumable runs").
  * `rows` is the state's row count every round; `changed` is its
  * `_changed` sum, -1 for states without that column (fixed-round apps). */
final case class IterMetrics(
    runId: String,
    iteration: Int,
    changed: Long,
    rows: Long,
    numPartitions: Int,
    wallMs: Long)

/** Where to durably checkpoint iteration state. `dir=None` keeps only
  * in-memory lineage cuts (`LineageCut`, not resumable). With a dir,
  * every superstep becomes an atomically-committed snapshot of one
  * [[graft.sources.SnapshotTable]] per runId (`dir/runId`), with the
  * convergence metrics in the manifest summary and per-FILE lineage in
  * the manifest itself — the north rule's "checkpoints per-iteration
  * vertex state to Iceberg[-class tables] with per-partition lineage and
  * convergence metrics for resumable runs" in one artifact, plus time
  * travel to any earlier iteration's full vertex state.
  *
  * `snapshot` is kept for source compatibility only: snapshots are the
  * one checkpoint format, and `snapshot = false` (the removed
  * bare-parquet format) is refused. `perfbench` still passes
  * `snapshot = true`; a later benchmark-only change can drop that
  * argument, and then this field can go. */
final case class CheckpointConfig(
    dir: Option[String] = None,
    runId: String = "run",
    snapshot: Boolean = true) {
  require(snapshot, "CheckpointConfig(snapshot = false): the bare-parquet " +
    "checkpoint format was removed; checkpoints are SnapshotTable " +
    "snapshots (leave snapshot at its default)")
}

/** The superstep driver loop — the Spark-side equivalent of the reference's
  * `DefaultWorker::Query` PEval/IncEval loop
  * (analytical_engine/core/worker/default_worker.h:81-112):
  * `init` plays PEval's output, `step` is one IncEval round, and
  * `ToTerminate` becomes "changed == 0" computed from the new state.
  *
  * Every round the new state is cut by [[org.apache.spark.sql.LineageCut]]
  * (in-memory checkpoint, plus one SnapshotTable commit when a dir is
  * configured) — without the lineage cut the plan grows superlinearly
  * with iterations (SURVEY.md §7.4). The cut's one job also counts the
  * state's rows and sums its `_changed` column, so a round is one job:
  * convergence costs no separate count. The snapshot table doubles as
  * the resume point: `run` restarts from its current version, validated
  * against the manifest lineage.
  */
object Iterate {

  final case class Result(state: DataFrame, metrics: Seq[IterMetrics],
      completedRounds: Int)

  /** @param init     iteration-0 state (must contain column `vid`)
    * @param maxRounds run at most this many IncEval rounds
    * @param step     (state, round) => new state; round is 1-based. If the
    *                 returned frame has a `_changed` int/bool column it is
    *                 summed for the convergence count, kept on the state
    *                 (and in durable checkpoints — exact frontier resume),
    *                 and dropped only from the returned Result.
    * @param stopWhenUnchanged terminate early when the `_changed` sum is 0
    *                 (fixed-round algorithms like PageRank/CDLP pass false)
    */
  def run(
      init: DataFrame,
      maxRounds: Int,
      step: (DataFrame, Int) => DataFrame,
      stopWhenUnchanged: Boolean = true,
      checkpoint: CheckpointConfig = CheckpointConfig()): Result =
    runDelta(init, maxRounds, (s, r, _) => step(s, r), stopWhenUnchanged,
      checkpoint)

  /** Like [[run]], but the step also receives the PREVIOUS round's
    * `_changed` sum (the frontier-delta size; -1 when unknown — e.g. the
    * first round after a resume). Frontier apps use it to broadcast-hint
    * a shrunken frontier (north rule: "broadcast of high-degree frontier
    * deltas", [[graft.graph.Strategy.frontier]]) without paying an extra
    * count job — the round's lineage cut already computed the number.
    * @param initChanged the frontier size of `init` when the caller knows
    *   it (single-source apps seed exactly 1); -1 = unknown. */
  def runDelta(
      init: DataFrame,
      maxRounds: Int,
      step: (DataFrame, Int, Long) => DataFrame,
      stopWhenUnchanged: Boolean = true,
      checkpoint: CheckpointConfig = CheckpointConfig(),
      initChanged: Long = -1L): Result = {

    val spark = init.sparkSession
    var metrics = Vector.empty[IterMetrics]

    // Resume: the current snapshot of this runId's table, validated
    // against its manifest lineage (per-file rows + content checksum)
    // before any new round runs — a truncated or foreign checkpoint fails
    // loudly instead of resuming from corrupt state.
    var startRound = 0
    var state: DataFrame = null
    val table = checkpoint.dir.map(d => s"$d/${checkpoint.runId}")
    table.foreach { t =>
      SnapshotTable.currentVersionOpt(spark, t).foreach { v =>
        startRound = SnapshotTable.manifest(spark, t, v)
          .summary("iteration").toInt
        SnapshotTable.validate(spark, t, v)
        state = SnapshotTable.readVersion(spark, t, v)
      }
    }
    if (state == null) state = LineageCut.localCheckpoint(init).df
    else {
      // Checkpoints persist the step OUTPUT, which may carry `_changed`
      // even when `init` does not (steps that derive their frontier from
      // the state each round, e.g. the Pregel runner): tolerate exactly
      // that extra column and drop it so the step sees the same shape as
      // in an unresumed run. Anything else is a wrong runId or a
      // pre-frontier-era checkpoint — refuse; a frontier cannot be
      // reinvented on resume (an unreached vertex must not broadcast).
      val want = init.columns.toSet
      val got = state.columns.toSet
      require(got == want || got == want + "_changed",
        s"checkpoint for runId '${checkpoint.runId}' has columns " +
          s"${state.columns.toSeq} but this run's state is " +
          s"${init.columns.toSeq} — wrong runId, or a pre-frontier-era " +
          "checkpoint (re-run from scratch)")
      if (!want.contains("_changed") && got.contains("_changed"))
        state = state.drop("_changed")
    }

    var round = startRound
    var done = false
    var prev = state
    // Frontier-delta size from the previous round. Fresh runs take the
    // caller's hint; resumes recompute it exactly from the restored
    // frontier column (checkpoints persist it), one agg once per resume.
    var lastChanged =
      if (startRound == 0) initChanged
      else if (state.columns.contains("_changed"))
        state.agg(sum(col("_changed").cast("long"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      else -1L
    while (round < maxRounds && !done) {
      round += 1
      val t0 = System.nanoTime()
      // Materialize, cut lineage and count rows + frontier in one job.
      val LineageCut.Cut(next, rows, changed) =
        LineageCut.localCheckpoint(step(prev, round, lastChanged))
      val hasChanged = changed >= 0L // the state has a `_changed` column
      val wall = (System.nanoTime() - t0) / 1000000
      val m = IterMetrics(checkpoint.runId, round, changed, rows,
        spark.sessionState.conf.numShufflePartitions, wall)
      metrics :+= m
      table.foreach { t =>
        SnapshotTable.overwrite(next, t,
          summary = Map(
            "runId" -> checkpoint.runId,
            "iteration" -> round.toString,
            "changed" -> changed.toString,
            "stateRows" -> rows.toString,
            "numPartitions" -> m.numPartitions.toString,
            "wallMs" -> wall.toString))
      }
      if (prev ne init) prev.unpersist()
      prev = next
      if (hasChanged) lastChanged = changed
      if (hasChanged && stopWhenUnchanged && changed == 0L) done = true
    }
    // The frontier column is engine state: it stays on the in-session
    // frame AND inside durable checkpoints (a resume needs the exact
    // frontier — re-marking all vertices changed would make reachability
    // apps broadcast from unreached vertices), but is dropped from the
    // returned result.
    val out = if (prev.columns.contains("_changed"))
      prev.drop("_changed") else prev
    Result(out, metrics, round)
  }
}
