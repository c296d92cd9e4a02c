package graft

import graft.apps.{PageRank, WCC}
import graft.graph.SimpleGraph
import graft.graphbuild.CoPurchase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: prints one JSON line with per-query seconds plus the
  * north-rule scaling evidence: the same PageRank+WCC jobs on the same
  * input at two parallelism levels (local[N/4] vs local[N], the sandbox
  * stand-in for N vs 4N executors; worker-count-invariance precedent:
  * python/tests/test_scalability.py:42-56), with edges/sec/iteration
  * throughput at both levels and the scaling efficiency between them.
  *
  * One shape, in this order:
  *   - the raw headline: one PageRank(10) and one WCC pass on the raw sf
  *     graph at hi parallelism;
  *   - the five raw per-query extras (degree, aggregates, exact dedup,
  *     CDLP, triangles) on the same warm session;
  *   - one scaled-graph write;
  *   - the box's pure-CPU scaling ceiling at lo and hi threads;
  *   - the 2-level ladder (hi/4 and hi, the N vs 4N pair the north rule
  *     names): a FIXED symmetric 3 passes per level, first-pass AND
  *     min-folded efficiencies both reported, `steal_suspected` when the
  *     min-folded number is outside [0.65, 1.1], `variance_suspected`
  *     when any level's pass spread exceeds 2x, `results_match` across
  *     levels — never a value-conditioned retry;
  *   - executor invariance: PageRank+WCC checksums on 1 vs 4 real
  *     executor JVMs.
  *
  * Environment: SPARK_GRAFT_SF_DIR (input), SPARK_GRAFT_CPUS (hi; lo is
  * hi/4), SPARK_GRAFT_SCALE_COPIES (replication of the scaled graph,
  * default 96), SPARK_GRAFT_BENCH_BUDGET (seconds, default 500) and
  * SPARK_GRAFT_BENCH_OUT (a second copy of the JSON).
  *
  * Budget discipline (a run that does not EXIT 0 inside its time window
  * yields no parsed result):
  *   - a wall-clock budget is checked before the optional sections: each
  *     extra starts only while under 25% of it is spent, executor
  *     invariance only while under 90%;
  *   - a full, valid JSON line is re-printed after EVERY completed section,
  *     so even a kill keeps everything measured so far (the last stdout
  *     line is always the most complete snapshot);
  *   - the scaled graph is derived ONCE and written to parquet; both
  *     parallelism levels read the identical file (same bytes);
  *   - every section runs under try/catch — one failure cannot zero the
  *     rest;
  *   - rpc/network timeouts are raised (r2 tail showed a 10s RpcTimeout
  *     under full 32-thread load);
  *   - all numbers are formatted with Locale.ROOT (a comma-decimal default
  *     locale must not break the JSON contract).
  *
  * The scaling section runs on a deterministic K-fold disjoint replication
  * of the co-purchase graph so that per-superstep compute dominates fixed
  * per-round scheduling overhead — at the raw sf sizes every round is
  * overhead-bound and no parallelism level can help. Both passes are
  * JIT-warmed and the lo pass runs first, so the hi pass never borrows
  * warmth the lo pass lacked.
  */
object Bench {

  private def fmt(d: Double, prec: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))

  /** Ordered top-level JSON fields; emit() prints the full current line
    * AND mirrors it to target/bench.json (+ SPARK_GRAFT_BENCH_OUT if set)
    * — the driver's parser gets a bare-JSON file even if stdout is
    * prefixed/truncated by the sbt harness (BENCH_r01..r03 all recorded
    * `parsed: null` from sbt's "[info] " prefixes; see also build.sbt's
    * run/outputStrategy fix). */
  private val fields =
    scala.collection.mutable.LinkedHashMap[String, String]()
  private def emit(): Unit = {
    val line = fields.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(line)
    Console.out.flush()
    val outs = Seq("target/bench.json") ++
      sys.env.get("SPARK_GRAFT_BENCH_OUT")
    outs.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        line + "\n")
      catch { case _: Throwable => () }
    }
  }

  private val queryTimes =
    scala.collection.mutable.LinkedHashMap[String, Double]()
  private def putQueries(): Unit = {
    fields("queries") = queryTimes
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    fields("value") = fmt(queryTimes.values.sum)
  }

  private def safe[T](name: String)(f: => T): Option[T] =
    try Some(f)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
    }

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.rpc.askTimeout", "120s")
      .config("spark.network.timeout", "240s")
      // AQE re-plans cached relations and drops their partitioning,
      // reinstating a per-superstep exchange (see SimpleGraph
      // .preparedEdges); the iterative plans are fixed-shape anyway.
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val dceSink = new java.util.concurrent.atomic.AtomicLong()

  /** Pure-CPU throughput (ops/sec of scalar arithmetic) with `threads`
    * busy JVM threads — no Spark, no memory traffic. This measures what
    * the VIRTUALIZED box itself can deliver when parallelism grows: on
    * this sandbox, 32 vCPUs sustain only ~2.7x the arithmetic of 8
    * (measured 0.66-0.69 "efficiency" for pure compute), so ANY job's
    * 8->32 scaling is capped there by hardware, not by plan shape. The
    * ladder reports its efficiency alongside this ceiling so the
    * engine's contribution is separable from the box's. */
  private def cpuBaseline(threads: Int, work: Long = 800000000L): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var x = 0L
        var i = 0L
        while (i < work) { x += i * i; i += 1 }
        dceSink.addAndGet(x)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    threads * work / ((System.nanoTime() - t0) / 1e9)
  }

  /** A REAL multi-executor session: `local-cluster[n,cores,mem]` spawns
    * `n` separate executor JVMs (own heap, own GC, serialized transport to
    * the driver) — the faithful sandbox form of the north rule's "N and 4N
    * executors", strictly stronger evidence than thread counts inside one
    * JVM. Our classes ride to the executors via extraClassPath (the
    * grading driver runs from the repo, where target/scala-2.13/classes
    * exists); build.sbt exports SPARK_SCALA_VERSION for the executor
    * launcher. Each executor gets a 4 GB heap. */
  private def clusterSession(executors: Int, coresPer: Int): SparkSession = {
    val memMb = 4096
    val classes = new java.io.File("target/scala-2.13/classes")
      .getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPer,$memMb]")
      .appName(s"graft-bench-${executors}x$coresPer")
      // the master string is the WORKER's capacity; the executor itself
      // still defaults to 1g heap without this (OOMs on the edge cache)
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.sql.shuffle.partitions",
        (executors * coresPer).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.rpc.askTimeout", "120s")
      .config("spark.network.timeout", "240s")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** K-fold edge replication of the co-purchase graph into a FIXED dense
    * vertex space: copy i hash-remaps both endpoints with seed i into
    * [0, vSpace). Edge count scales ~linearly with `copies` while the
    * vertex set stays small, so per-superstep compute grows but the
    * V-proportional serial costs (state broadcast, checkpoint) do not —
    * exactly the E >> V regime of the 10^12-file link graph. Deterministic
    * (xxhash64). Canonicalized + deduplicated so the SimpleGraph
    * `simpleEdges` contract holds. Written to parquet once; all
    * parallelism levels read the identical file. */
  private def writeScaledEdges(spark: SparkSession, dir: String,
      copies: Int, path: String): Unit = {
    val vSpace = 50000L
    // One scan: explode a copy index per pair (r2's K-way union re-read
    // the cached pairs K times through a K-deep union plan — the write
    // dominated the bench window).
    val shifted = CoPurchase.pairs(spark, dir)
      .select(col("src"), col("dst"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .select(
        pmod(xxhash64(col("src"), col("i")), lit(vSpace)).as("a"),
        pmod(xxhash64(col("dst"), col("i")), lit(vSpace)).as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .distinct()
    shifted.write.mode("overwrite").parquet(path)
  }

  private def readScaledGraph(spark: SparkSession, path: String)
      : SimpleGraph = {
    val pairs = spark.read.parquet(path)
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst"))).persist()
    edges.count()
    val verts = spark.range(50000L).select(col("id").as("vid")).persist()
    verts.count()
    SimpleGraph(verts, edges, directed = false, simpleEdges = true)
  }

  /** Per-pass PageRank/WCC timings on a prepared graph, after a short JIT
    * warm-up. ALL `passes` passes run unconditionally and every raw timing
    * is returned (first element = first pass) — the caller reports both
    * the first-pass and the min-folded numbers, so the robust estimator
    * (min: the sandbox hypervisor steals CPU in sustained bursts, observed
    * 2-4x swings on identical code) never hides the raw measurement.
    * Checksums are vid-WEIGHTED so they discriminate (plain Σrank is the
    * conserved mass 1.0 and plain Σcomp is 0 on a 0-rooted single
    * component — both vacuous), and the PR part is quantized to 1e-6 —
    * the raw double sum differs in final ULPs across partition counts
    * (aggregation order), not a result difference at the comparison
    * tolerance. */
  private final case class Headline(
      prSecs: Seq[Double], wccSecs: Seq[Double], wccRounds: Int,
      checksum: Double) {
    def prMin: Double = prSecs.min
    def wccMin: Double = wccSecs.min
  }
  private def headline(g: SimpleGraph, passes: Int): Headline = {
    PageRank.run(g, 0.85, 2).count() // builds shared caches + JIT warmth
    def prOnce = time {
      PageRank.run(g, 0.85, 10)
        .agg(round(sum(col("rank") * col("vid")) * 1e6, 0))
        .head().getDouble(0)
    }
    val prRuns = Seq.fill(passes)(prOnce)
    val prChk = prRuns.head._1
    // Every WCC pass times the IDENTICAL action (superstep run + one
    // checksum agg — the same shape as the PR passes): a first pass that
    // additionally materialized a cache would measure a different kind
    // of work than the min-folded ones, skewing the first-pass
    // efficiency the ladder reports.
    def wccOnce = time {
      val r = WCC.runWithRounds(g)
      (r._1.agg(sum((col("comp") + 1L) * col("vid"))).head().getLong(0),
        r._2)
    }
    val wccRuns = Seq.fill(passes)(wccOnce)
    val chk = prChk + wccRuns.head._1._1
    Headline(prRuns.map(_._2), wccRuns.map(_._2), wccRuns.head._1._2,
      chk)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hi = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val lo = math.max(1, hi / 4)
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "500").toDouble
    def budgetLeft(frac: Double): Boolean = elapsed < frac * budgetSec
    // Measured at sf0.1: copies=16 (38M directed edges) leaves each round
    // overhead-bound — scaling efficiency 0.39; at copies=64 (148M) the
    // full-box 8->32 pair still bounced 0.72-0.88 across runs (per-round
    // compute ~1s at c32, partially overhead-bound); round 1 measured
    // >=0.8 consistently once the edge count crosses ~2e8, so the default
    // is copies=96 (~220M symmetric edges) — the E>>V regime of the
    // 10^12-file link graph.
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "96").toInt
    val scaledPath = new java.io.File(
      s"target/bench-scaled-c$copies").getAbsolutePath

    fields("metric") = "\"total\""
    fields("value") = "0.0"
    fields("unit") = "\"sec\""
    fields("queries") = "{}"
    fields("sf") = "\"" + sfDir + "\""

    // --- per-query timings at hi parallelism, raw sf data ---
    val spark = session(hi)
    safe("edges_raw") {
      fields("edges_raw") = CoPurchase.graph(spark, sfDir).edges.count()
        .toString
    }
    safe("headline_raw") {
      val h = headline(CoPurchase.graph(spark, sfDir), 1)
      queryTimes("g_pagerank") = h.prMin
      queryTimes("g_wcc") = h.wccMin
      putQueries(); emit()
    }
    // Raw per-query extras run HERE — immediately after the headline, on
    // the already-warm hi session, BEFORE the scaled write and the ladder.
    // r2-r4 placed them after the ladder "so they could never eat its
    // budget", and three consecutive driver runs blew the budget before
    // reaching them — the official artifact tracked only PR/WCC. They
    // cost ~12s at sf0.1 (measured: degree 0.2, cdlp 4.1, triangles 5.7)
    // against a 500s budget, so the ladder loses nothing, and each one
    // emits as it lands so even a kill keeps the completed prefix.
    Seq[(String, (SparkSession, String) => DataFrame)](
      "g_degree" -> (Queries.degree(_, _)),
      "i_aggs" -> (Queries.iAggs(_, _)),
      "d_exact_dedup" -> (Queries.dExactDedup(_, _)),
      "g_cdlp" -> (Queries.cdlp(_, _)),
      "g_triangles" -> (Queries.triangles(_, _))
    ).foreach { case (name, f) =>
      if (budgetLeft(0.25)) safe(name) {
        val (_, t) = time { f(spark, sfDir).count() }
        queryTimes(name) = t
        putQueries(); emit()
      }
    }
    safe("scaled_write") {
      writeScaledEdges(spark, sfDir, copies, scaledPath)
    }
    spark.stop()

    // Hardware scaling ceiling: pure-JVM arithmetic throughput at lo and
    // hi thread counts (min-of-2 each, short JIT warm). See cpuBaseline.
    var cpuEffLoHi = -1.0
    safe("cpu_baseline") {
      cpuBaseline(2, 50000000L) // JIT warm
      // max of 3 = least-stolen pass (r3 recorded a nonsense 1.511 ceiling
      // from a lo-level pass that lost BOTH its max-of-2 runs to a
      // hypervisor steal burst; a third pass makes that far less likely)
      def measure(t: Int) = Seq.fill(3)(cpuBaseline(t)).max
      val rLo = measure(lo)
      val rHi = measure(hi)
      cpuEffLoHi = (rHi / rLo) / (hi.toDouble / lo)
      fields("cpu_baseline") =
        s"""{"ops_per_sec_$lo":${rLo.round},"ops_per_sec_$hi":${rHi.round},""" +
          s""""efficiency_${lo}_$hi":${fmt(cpuEffLoHi)}}"""
      emit()
    }

    // --- scaling ladder: identical jobs, same scaled input file, at
    // (hi/4, hi) — the N -> 4N pair the north rule names.
    var nEdges = 0L
    val ladder =
      scala.collection.mutable.LinkedHashMap[Int, Headline]()

    def ladderEps(c: Int, pr: Headline => Double, wcc: Headline => Double)
        : Double = {
      val h = ladder(c)
      nEdges.toDouble * (10 + h.wccRounds) / (pr(h) + wcc(h))
    }
    def epsMin(c: Int): Double = ladderEps(c, _.prMin, _.wccMin)
    def epsFirst(c: Int): Double =
      ladderEps(c, _.prSecs.head, _.wccSecs.head)
    def effNum(a: Int, b: Int, eps: Int => Double = epsMin)
        : Option[Double] =
      if (ladder.contains(a) && ladder.contains(b))
        Some((eps(b) / eps(a)) / (b.toDouble / a))
      else None
    // Per-level pass spread (max/min within a level's identical passes).
    // Identical deterministic jobs on an idle box land within ~1.2x; a
    // spread over 2x means hypervisor steal bursts hit SOME passes, so
    // the min-folded headline is an estimate under noise — r4's c32
    // pr_secs [10.48, 44.64, 32.44] (4.3x) was min-folded silently.
    // Flagged even when the resulting efficiency lands in-gate.
    def spread(h: Headline): Double = {
      def s(xs: Seq[Double]): Double =
        if (xs.size < 2 || xs.min <= 0) 1.0 else xs.max / xs.min
      math.max(s(h.prSecs), s(h.wccSecs))
    }
    def emitScaling(): Unit = {
      val entries = ladder.map { case (c, h) =>
        s""""c$c":{"pr_sec":${fmt(h.prMin, 2)},""" +
          s""""wcc_sec":${fmt(h.wccMin, 2)},""" +
          s""""pr_secs":[${h.prSecs.map(fmt(_, 2)).mkString(",")}],""" +
          s""""wcc_secs":[${h.wccSecs.map(fmt(_, 2)).mkString(",")}],""" +
          s""""eps":${epsMin(c).round},""" +
          s""""pass_spread":${fmt(spread(h), 2)},""" +
          s""""mode":"local[$c]"}"""
      }.mkString(",")
      val varianceSuspected = ladder.values.exists(spread(_) > 2.0)
      // The 4x pair, once both levels completed (a small-cpu run whose hi
      // is not 4 * lo has none). Both the min-folded estimate (robust to
      // hypervisor steal bursts) and the untouched first-pass number are
      // reported — the raw measurement stays visible next to the
      // estimator.
      val effs =
        if (hi != lo * 4) Nil
        else effNum(lo, hi).map(v =>
            s""""efficiency_${lo}_${hi}":${fmt(v)}""").toSeq ++
          effNum(lo, hi, epsFirst).map(v =>
            s""""efficiency_${lo}_${hi}_first_pass":${fmt(v)}""")
      val resultsMatch = ladder.values
        .map(h => (h.checksum, h.wccRounds)).toSet.size == 1
      // Engine efficiency normalized by the hardware ceiling: what
      // fraction of the box's OWN lo->hi arithmetic scaling the superstep
      // ladder achieves (1.0 = the plan scales as well as pure compute
      // can on this VM).
      val norm = effNum(lo, hi)
        .filter(_ => cpuEffLoHi > 0)
        .map(e => s""""efficiency_${lo}_${hi}_vs_cpu_ceiling":""" +
          fmt(e / cpuEffLoHi) + ",")
        .getOrElse("")
      // Honest noise flag: a lo->hi efficiency outside [0.65, 1.1] is not
      // a plan property on deterministic identical-input jobs — it means
      // steal bursts swallowed whole pass sets. Flagged, never re-measured
      // conditionally (value-conditioned retries bias the estimate).
      val steal = effNum(lo, hi)
        .map(e => s""""steal_suspected":${e < 0.65 || e > 1.1},""")
        .getOrElse("")
      fields("scaling") =
        (s"""{"edges":$nEdges,"iters":${10 + ladder.head._2.wccRounds},""" +
          s""""levels":{$entries},""" +
          (if (effs.nonEmpty) effs.mkString("", ",", ",") else "") +
          norm + steal +
          s""""variance_suspected":$varianceSuspected,""" +
          s""""results_match":$resultsMatch}""")
      emit()
    }
    // Each level runs in-process (local[cpus]) with the SAME fixed 3
    // passes, unconditionally and symmetrically — no value-conditioned
    // stopping. Real-executor evidence comes from the untimed
    // executor-invariance section below: on one box the per-round
    // driver->executor broadcast/RPC transport dominates a timed
    // executor-JVM ladder at 2e8 edges (measured: a 4x8 level crawled at
    // <2 busy cores per executor).
    for (cpus <- Seq(lo, hi).distinct) {
      val s = session(cpus)
      try safe(s"scaling_$cpus(local[$cpus])") {
        val g = readScaledGraph(s, scaledPath)
        nEdges = g.edges.count()
        ladder(cpus) = headline(g, 3)
        g.unload() // free the big cache before the next section
        emitScaling()
      } finally s.stop()
      // Level isolation: leftover garbage from the previous level's
      // cached graph otherwise lands as GC pauses inside the next
      // level's timing.
      System.gc()
    }
    // Multi-executor invariance (the north rule's "two cluster sizes" on
    // REAL separate executor JVMs; reference precedent:
    // python/tests/test_scalability.py:42-56): PageRank+WCC on the raw
    // graph must produce IDENTICAL checksums on a 1-executor and a
    // 4-executor local-cluster. Cheap (raw sf, two short sessions) and
    // untimed — correctness across cluster sizes, not throughput. Spark
    // allows ONE active context per JVM and getOrCreate on an active
    // session would silently IGNORE the local-cluster master, so every
    // section above stops its session.
    if (budgetLeft(0.9)) safe("executor_invariance") {
      val per = math.max(2, lo / 2)
      def chk(execs: Int): (Double, Long, Int) = {
        val s = clusterSession(execs, per)
        try {
          val g = CoPurchase.graph(s, sfDir)
          // vid-weighted checksums — see headline()
          val pr = PageRank.run(g, 0.85, 10)
            .agg(round(sum(col("rank") * col("vid")) * 1e6, 0))
            .head().getDouble(0)
          val (wcc, rounds) = WCC.runWithRounds(g)
          val w = wcc.agg(sum((col("comp") + 1L) * col("vid")))
            .head().getLong(0)
          (pr, w, rounds)
        } finally s.stop()
      }
      val one = chk(1)
      val four = chk(4)
      fields("executor_invariance") =
        s"""{"clusters":"1x$per vs 4x$per executor JVMs",""" +
          s""""results_match":${one == four},""" +
          s""""pr_checksum":${fmt(one._1, 0)},""" +
          s""""wcc_checksum":${one._2}}"""
      emit()
    }
    putQueries(); emit()
    System.err.println(f"[bench] done in ${elapsed}%.1fs")
    sys.exit(0)
  }
}
