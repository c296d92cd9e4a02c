package perfbench

import scala.collection.mutable

/** What a run prints: metric lines, the last-line JSON summary, and the
  * full record written to the results directory. */
final case class Outcome(lines: Seq[String], summaryLine: Map[String, Any],
    record: Map[String, Any], correct: Boolean)

/** Turns a run's [[Record]] into metrics.
  *
  * End-to-end metrics come from the ops of a run; they count only from an
  * untraced run. Per-layer metrics come from a traced run, in which every
  * span is traced. Both are medians over calls unless named otherwise. */
object Metrics {

  def median(xs: Iterable[Double]): Double = {
    val s = xs.filterNot(_.isNaN).toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * largest sample when there are ten or fewer):
    * (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) (Double.NaN, Double.NaN, 0)
    else if (s.size <= 10) (s.last, 100.0, 0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10)
  }

  private final class Table {
    val values = mutable.LinkedHashMap[String, (Double, String)]()
    def update(name: String, unit: String, v: Double): Unit =
      if (!v.isNaN) values(name) = (v, unit)
    def json: Map[String, Any] = values.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }.toMap
    def lines: Seq[String] = values.toSeq.map { case (k, (v, u)) =>
      s"$k = $v $u" }
  }

  def outcome(r: Record): Outcome = {
    val tr = r.tr
    val apps = Seq("pagerank", "wcc", "cdlp")
    def inOp(s: Span) = s.op >= 0
    val calls = r.appCalls.map { case (a, id, rounds, edges) =>
      (a, tr.spans(id), rounds, edges) }

    // ------------------------------------------------------- end to end
    val e2e = new Table
    val walls = r.ops.map(_._1).toSeq
    val (tailV, tailP, beyond) = tail(walls)
    e2e("setup_s", "s") = r.setupWall
    e2e("op_p50_s", "s") = median(walls)
    e2e("op_tail_s", "s") = tailV
    apps.foreach { a =>
      e2e(s"${a}_s", "s") = median(calls.collect {
        case (`a`, s, _, _) if inOp(s) => s.wall / 1000 })
    }
    val gather = calls.filter { case (a, s, _, _) =>
      (a == "pagerank" || a == "wcc") && inOp(s) }
    e2e("edges_per_s", "1/s") =
      if (gather.isEmpty) Double.NaN
      else gather.map { case (_, _, rounds, e) => e.toDouble * rounds }.sum /
        gather.map(_._2.wall / 1000).sum
    val failed = r.ops.count(_._2)
    e2e("failed_frac", "1") = failed.toDouble / math.max(1, r.ops.size)
    e2e("cached_mb", "MB") = median(r.cachedBytes) / 1e6
    e2e("disk_mb_per_op", "MB") = median(r.opDiskBytes) / 1e6

    // --------------------------------------------------------- per layer
    val layer = new Table
    if (r.trace) {
      // A layer's calls inside ops when it has any there (pipeline), else
      // its set-up calls (the load layers of suite).
      def named(n: String) = {
        val all = tr.spans.toSeq.filter(_.name == n)
        if (all.exists(inOp)) all.filter(inOp) else all
      }
      def spanWalls(n: String) = named(n).map(_.wall / 1000)
      def jobsOf(s: Span, cat: String) =
        tr.jobsIn(s).filter(_.category == cat)
      def jobSecs(s: Span, cat: String) = jobsOf(s, cat).map(_.wall).sum / 1000
      def outBytesOf(s: Span, cat: String) = {
        val ids = jobsOf(s, cat).map(_.id).toSet
        tr.tasksIn(s).filter(t => ids(t.job)).map(_.outBytes).sum.toDouble
      }

      layer("model.generate_s", "s") = median(spanWalls("model.generate"))
      val builds = named("graphbuild.build")
      layer("graphbuild.build_s", "s") = median(spanWalls("graphbuild.build"))
      layer("graphbuild.vertices", "count") =
        median(builds.flatMap(s => r.builds.get(s.id)).map(_._1.toDouble))
      layer("graphbuild.edges", "count") =
        median(builds.flatMap(s => r.builds.get(s.id)).map(_._2.toDouble))
      layer("graphbuild.shuffle_bytes", "bytes") = median(builds.map(s =>
        tr.tasksIn(s).map(_.shuffleWrite).sum.toDouble))
      val appends = named("sources.append")
      layer("sources.append_s", "s") = median(spanWalls("sources.append"))
      layer("sources.append_bytes", "bytes") =
        median(appends.map(s => tr.tasksIn(s).map(_.outBytes).sum.toDouble))
      layer("sources.read_files", "count") = median(named("sources.read")
        .flatMap(s => r.reads.get(s.id)).map(_.toDouble))
      val ckpt = named("app.pagerank").filter(jobsOf(_, "sources").nonEmpty)
      layer("sources.checkpoint_s", "s") = median(ckpt.map(jobSecs(_, "sources")))
      layer("sources.checkpoint_bytes", "bytes") =
        median(ckpt.map(outBytesOf(_, "sources")))
      // placement jobs of the app calls on each built graph
      layer("graph.prepare_s", "s") = median(builds.map(_.op).distinct.map {
        op => tr.spans.filter(s => s.layer == "app" && s.op == op)
          .map(jobSecs(_, "graph")).sum })
      layer("graph.cached_bytes", "bytes") = median(r.placedBytes)

      apps.foreach { a =>
        // warm calls only: those inside ops
        val cs = calls.filter { case (x, s, _, _) => x == a && inOp(s) }
        val spans = cs.map(_._2)
        def per(f: Span => Double) = median(spans.map(f))
        val p = s"pregel.$a"
        layer(s"$p.rounds", "count") = median(cs.map(_._3.toDouble))
        layer(s"$p.jobs", "count") = per(tr.jobsIn(_).size.toDouble)
        layer(s"$p.checkpoint_s", "s") = per(jobSecs(_, "checkpoint"))
        layer(s"$p.converge_s", "s") = per(jobSecs(_, "converge"))
        layer(s"$p.driver_gap_s", "s") =
          per(s => (s.wall - tr.covered(s, tr.jobsIn(s))) / 1000)
        val q = s"apps.$a"
        def tasks(s: Span) = tr.tasksIn(s)
        layer(s"$q.task_busy_s", "s") = per(tasks(_).map(_.runMs).sum / 1000.0)
        layer(s"$q.core_util", "1") =
          per(s => tasks(s).map(_.runMs).sum / (s.wall * r.nproc))
        layer(s"$q.shuffle_read_bytes", "bytes") =
          per(tasks(_).map(_.shuffleRead).sum.toDouble)
        layer(s"$q.shuffle_write_bytes", "bytes") =
          per(tasks(_).map(_.shuffleWrite).sum.toDouble)
        layer(s"$q.spill_bytes", "bytes") = per(tasks(_).map(_.spill).sum.toDouble)
        layer(s"$q.gc_s", "s") = per(tasks(_).map(_.gcMs).sum / 1000.0)
        layer(s"$q.task_skew", "1") = per { s =>
          median(tasks(s).groupBy(_.stage).values.filter(_.size > 1).map { ts =>
            val d = ts.map(_.durationMs.toDouble)
            d.max / math.max(1.0, median(d))
          })
        }
        layer(s"$q.tasks", "count") = per(tasks(_).size.toDouble)
      }
      layer("ops.output_s", "s") = median(spanWalls("ops.output"))
      layer("ops.output_bytes", "bytes") = median(named("ops.output")
        .map(s => tr.tasksIn(s).map(_.outBytes).sum.toDouble))
      layer("trace.overhead_frac", "1") = tr.listenerMs /
        tr.spans.filter(_.parent < 0).map(_.wall).sum
    }

    // ------------------------------------------------------------- trace
    val tracedSpans = if (r.trace) tr.spans.toSeq else Nil
    // Job time attributed to each category (the time its jobs cover) plus
    // the driver gap, against each app span's wall.
    val sumCheck = tracedSpans.filter(_.layer == "app").map { s =>
      val js = tr.jobsIn(s)
      val gap = s.wall - tr.covered(s, js)
      val attributed = js.groupBy(_.category).values
        .map(tr.covered(s, _)).sum
      math.abs(attributed + gap - s.wall) / s.wall
    }
    val selfByName = tracedSpans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(tr.selfMs).sum / 1000 }
    val spanRecords = tracedSpans.map { s =>
      val ts = tr.tasksIn(s)
      val own = tr.jobsIn(s).filter(_.span == s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> tr.selfMs(s),
        "jobs" -> own.map(j => Map("id" -> j.id, "site" -> j.site,
          "category" -> j.category, "ms" -> j.wall)),
        "tasks" -> ts.size, "task_run_ms" -> ts.map(_.runMs).sum,
        "gc_ms" -> ts.map(_.gcMs).sum,
        "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
        "spill_bytes" -> ts.map(_.spill).sum,
        "output_bytes" -> ts.map(_.outBytes).sum)
    }

    val correct = failed == 0 && r.failures.isEmpty
    val chosen = if (r.trace) layer else e2e
    val lines = Seq(s"workload ${r.workload} seed ${r.seed} " +
        s"trace ${if (r.trace) 1 else 0}: ${r.ops.size} ops, $failed failed, " +
        f"set-up ${r.setupWall}%.2f s",
      "input " + Json.render(r.input)) ++
      e2e.lines ++
      Seq(f"op_tail_s is the p$tailP%.1f of ${walls.size} ops " +
        s"($beyond beyond it)") ++
      layer.lines ++
      (if (sumCheck.nonEmpty) Seq(f"trace check: job time + driver gap " +
        f"within ${100 * sumCheck.max}%.2f%% of each app span's wall") else Nil) ++
      r.failures.map("FAILED " + _)
    val summary = Map("correct" -> correct, "attempted" -> r.ops.size,
      "failed" -> failed, "metrics" -> chosen.json)
    val record = Map(
      "workload" -> r.workload, "seed" -> r.seed, "seconds" -> r.seconds,
      "trace" -> r.trace, "input" -> r.input, "correct" -> correct,
      "attempted" -> r.ops.size, "failed" -> failed,
      "failures" -> r.failures,
      "end_to_end" -> e2e.json, "per_layer" -> layer.json,
      "op_tail" -> Map("percentile" -> tailP, "samples" -> walls.size,
        "beyond" -> beyond),
      "op_walls_s" -> r.ops.map(_._1),
      "setup_s" -> r.setupWall,
      "trace_check_max_dev" -> (if (sumCheck.isEmpty) None
        else Some(sumCheck.max)),
      "layer_self_s" -> selfByName,
      "spans" -> spanRecords)
    Outcome(lines, summary, record, correct)
  }
}
