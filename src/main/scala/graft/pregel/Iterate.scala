package graft.pregel

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.sql.LineageCut.Reduction
import org.apache.spark.sql.types.StructType

/** Per-iteration lineage + convergence metrics, one row per superstep
  * (north rule: "checkpoints per-iteration vertex state ... with
  * per-partition lineage and convergence metrics for resumable runs").
  * `rows` is the state's row count every round; `changed` is its
  * `_changed` sum, -1 for states without that column (fixed-round apps);
  * `values` holds the declared reductions that have a value. */
final case class IterMetrics(
    runId: String,
    iteration: Int,
    changed: Long,
    rows: Long,
    numPartitions: Int,
    wallMs: Long,
    values: Map[Reduction, Number])

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
  * (analytical_engine/core/worker/default_worker.h:81-112), and the only
  * superstep loop in the engine: `init` plays PEval's output, `step` is
  * one IncEval round, and `ToTerminate` is a predicate over the rounds'
  * metrics.
  *
  * Every state — the initial or resumed one, then each round's — is cut
  * by [[org.apache.spark.sql.LineageCut]] (in-memory checkpoint, plus one
  * SnapshotTable commit per round when a dir is configured); without the
  * cut the plan grows superlinearly with iterations (SURVEY.md §7.4); a
  * round's cut is released once the next one has materialized, so a run
  * holds only its last state's. The cut's job also counts the state's
  * rows, sums its `_changed` column and computes the declared reductions
  * — the reference's per-superstep `Communicator` Sum/Max/Min — so a
  * round's global scalars cost no job of their own. With a dir, the same
  * job writes the round's snapshot files, and the driver publishes the
  * manifest after it: a round, durable or not, is the cut plus, at the
  * broadcast tier, the broadcast of the state its plan reads. The
  * snapshot table doubles as the resume point: `run` restarts
  * from its current version, validated against the manifest lineage.
  * Reductions are functions of the stored state, so a resumed run hands
  * its steps the values an uninterrupted run did (a float sum up to the
  * order in which the stored files are read back).
  *
  * A step declared with [[Iterate.invariant]] is built once per run, as
  * the reference runs one fixed IncEval program every round: the run's
  * first round calls it over the initial (or resumed) cut, and every later
  * round runs that plan over the new cut
  * ([[org.apache.spark.sql.LineageCut.Superstep]]) — no analysis, and,
  * when the new cut is placed as the first was, no optimizing or planning
  * either. A step that reads `prev` (a round number, a reduction, a
  * frontier hint) is built every round.
  */
object Iterate {

  final case class Result(state: DataFrame, metrics: Seq[IterMetrics],
      completedRounds: Int)

  /** Stop once a round changes nothing (its `_changed` sum is 0); a state
    * without that column never stops early. */
  val unchanged: Seq[IterMetrics] => Boolean = _.last.changed == 0L

  /** Run every round (PageRank, CDLP). */
  val fixedRounds: Seq[IterMetrics] => Boolean = _ => false

  /** A step that reads only the state and the run's constants, never
    * `prev`; made by [[invariant]]. */
  final class Invariant private[Iterate] (f: DataFrame => DataFrame)
      extends ((DataFrame, IterMetrics) => DataFrame) {
    def apply(state: DataFrame, prev: IterMetrics): DataFrame = f(state)
  }

  /** Declares a round-invariant step: `f` sees the state only, so [[run]]
    * calls it once and runs its plan over every later round's state. A
    * step with a nondeterministic expression is still called every
    * round. */
  def invariant(f: DataFrame => DataFrame): Invariant = new Invariant(f)

  /** Runs up to `maxRounds` rounds of `step`; `Result.state` drops
    * `_changed` and the reduced columns.
    * @param init     iteration-0 state
    * @param maxRounds run at most this many IncEval rounds
    * @param step     (state, prev) => new state, where `prev` holds the
    *                 previous cut's metrics: the round being computed is
    *                 `prev.iteration + 1` (iteration 0, or the resumed
    *                 round, is the cut of the initial state), and
    *                 `prev.changed` is the frontier size frontier apps use
    *                 to broadcast-hint a shrunken frontier
    *                 ([[graft.graph.Strategy.frontier]]). A `_changed`
    *                 int/bool column on the returned frame is summed into
    *                 `changed` and kept on the state (and in durable
    *                 checkpoints — exact frontier resume). An
    *                 [[invariant]] step is called once per run.
    * @param stop     checked after each round over this run's metrics so
    *                 far; true ends the run
    * @param reduce   reductions over numeric columns of every cut state
    *                 (the initial state included), reported in `values` */
  def run(
      init: DataFrame,
      maxRounds: Int,
      step: (DataFrame, IterMetrics) => DataFrame,
      stop: Seq[IterMetrics] => Boolean = unchanged,
      checkpoint: CheckpointConfig = CheckpointConfig(),
      reduce: Seq[Reduction] = Nil): Result = {

    val spark = init.sparkSession

    // Resume: the current snapshot of this runId's table, validated
    // against its manifest lineage (per-file rows + content checksum)
    // before any new round runs — a truncated or foreign checkpoint fails
    // loudly instead of resuming from corrupt state.
    var startRound = 0
    var start = init
    val table = checkpoint.dir.map(d => s"$d/${checkpoint.runId}")
    table.foreach { t =>
      SnapshotTable.currentVersionOpt(spark, t).foreach { v =>
        startRound = SnapshotTable.manifest(spark, t, v)
          .summary("iteration").toInt
        SnapshotTable.validate(spark, t, v)
        val saved = SnapshotTable.readVersion(spark, t, v)
        // Checkpoints persist the step OUTPUT, which may carry `_changed`
        // even when `init` does not (steps that derive their frontier from
        // the state each round, e.g. the Pregel runner): tolerate exactly
        // that extra column and drop it so the step sees the same shape as
        // in an unresumed run. Anything else is a wrong runId or a
        // pre-frontier-era checkpoint — refuse; a frontier cannot be
        // reinvented on resume (an unreached vertex must not broadcast).
        val want = init.columns.toSet
        val got = saved.columns.toSet
        require(got == want || got == want + "_changed",
          s"checkpoint for runId '${checkpoint.runId}' has columns " +
            s"${saved.columns.toSeq} but this run's state is " +
            s"${init.columns.toSeq} — wrong runId, or a pre-frontier-era " +
            "checkpoint (re-run from scratch)")
        start = if (got == want) saved else saved.drop("_changed")
      }
    }

    // Materialize, cut lineage, count rows + frontier and reduce, in one
    // job; the round's wall time counts from `t0`, its step build included.
    def measured(c: LineageCut.Cut, round: Int, t0: Long): IterMetrics =
      IterMetrics(checkpoint.runId, round, c.changed, c.rows, c.partitions,
        (System.nanoTime() - t0) / 1000000, c.values)

    val t0 = System.nanoTime()
    val c0 = LineageCut.localCheckpoint(start, reduce)
    var (state, prev) = (c0.df, measured(c0, startRound, t0))
    var metrics = Vector.empty[IterMetrics]
    // an invariant step's plans, built in this run's first round
    var superstep = Option.empty[LineageCut.Superstep]
    // the snapshot writer of the rounds' state schema, prepared once
    var writer = Option.empty[SnapshotTable.Writer]
    def sink(t: String, schema: StructType) = {
      if (!writer.exists(_.writes(schema)))
        writer = Some(SnapshotTable.writer(spark, t, schema))
      writer.get.sink()
    }
    while (prev.iteration < maxRounds && !(metrics.nonEmpty && stop(metrics))) {
      val began = System.nanoTime()
      val df = Option.when(superstep.isEmpty)(step(state, prev))
      if (step.isInstanceOf[Invariant])
        superstep = superstep.orElse(LineageCut.superstep(df.get, state))
      val out = table.map(sink(_, superstep.fold(df.get.schema)(_.schema)))
      val c = superstep match {
        case Some(s) => s.localCheckpoint(state, reduce, out)
        case None => LineageCut.localCheckpoint(df.get, reduce, out)
      }
      val next = c.df
      val m = measured(c, prev.iteration + 1, began)
      metrics :+= m
      out.foreach { o =>
        writer.get.overwrite(o, c.written,
          summary = Map(
            "runId" -> checkpoint.runId,
            "iteration" -> m.iteration.toString,
            "changed" -> m.changed.toString,
            "stateRows" -> m.rows.toString,
            "numPartitions" -> m.numPartitions.toString,
            "wallMs" -> m.wallMs.toString) ++
            m.values.map { case (r, v) => r.toString -> v.toString })
      }
      // the run owns every state it cut, and the next cut no longer reads
      // this one
      LineageCut.release(state)
      state = next
      prev = m
    }
    // The frontier column is engine state: it stays on the in-session
    // frame AND inside durable checkpoints (a resume needs the exact
    // frontier — re-marking all vertices changed would make reachability
    // apps broadcast from unreached vertices), but is dropped from the
    // returned result, as are the reduced columns.
    val engine = ("_changed" +: reduce.map(_.column)).distinct
      .filter(state.columns.contains)
    Result(if (engine.isEmpty) state else state.drop(engine: _*), metrics,
      prev.iteration)
  }
}
