package graft

import graft.apps.{PageRank, WCC}
import graft.graph.SimpleGraph
import graft.graphbuild.CoPurchase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main — prints a JSON line with per-query seconds plus the
  * north-rule scaling evidence: the same PageRank+WCC jobs on the same
  * input at two parallelism levels (local[N/4] vs local[N], the sandbox
  * stand-in for N vs 4N executors; worker-count-invariance precedent:
  * python/tests/test_scalability.py:42-56), with edges/sec/iteration
  * throughput at both levels and the scaling efficiency between them.
  *
  * Budget discipline (rounds 1 AND 2 were timeout-killed at rc=124 — the
  * r2 incremental-emission hardening preserved partial numbers but the
  * driver records `parsed: null` unless the process EXITS 0 in-window, so
  * round 3 makes the default path small):
  *   - DEFAULT: raw headline timings, then the five raw per-query extras
  *     IMMEDIATELY (r2-r4 ran them post-ladder and three consecutive
  *     driver runs budget-starved them — the artifact tracked only
  *     PR/WCC; they cost ~12s, the ladder loses nothing), one
  *     scaled-graph write, a 2-level scaling ladder (hi/4 and hi — the N
  *     vs 4N pair the north rule names; a FIXED symmetric 3 passes per
  *     level, first-pass AND min-folded efficiencies both reported,
  *     steal_suspected flagged when the min-folded number is outside
  *     [0.65,1.1], variance_suspected when any level's pass spread
  *     exceeds 2x — never a value-conditioned retry), executor-JVM
  *     invariance. Everything else — the 4-level ladder, strategy-tier
  *     comparison, compute-bound MinHash probe, the timed executor-JVM
  *     exec_ladder — runs only under SPARK_GRAFT_BENCH_FULL=1;
  *   - a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET seconds, default 500)
  *     is checked before each section; once 60% is spent, optional
  *     sections are skipped and the ladder degrades to whatever levels
  *     completed;
  *   - a full, valid JSON line is re-printed after EVERY completed section,
  *     so even a kill keeps everything measured so far (the last stdout
  *     line is always the most complete snapshot);
  *   - the scaled graph is derived ONCE and written to parquet; all
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
    * launcher. */
  private def clusterSession(executors: Int, coresPer: Int, memMb: Int)
      : SparkSession = {
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

  /** Compute-bound scaling probe: MinHash signatures (64 hash functions
    * over char shingles) on a `copies`-fold replicated documents table.
    * One stage + one agg — no per-round scheduling — so it isolates how
    * raw compute scales with cores, complementing the superstep probe. */
  private def computeProbe(spark: SparkSession, dir: String,
      copies: Int): Double = {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("copy"))
      .select(concat_ws("#", col("text"), col("copy")).as("text"))
      // The small source parquet arrives as ONE input split and explode
      // preserves partitioning — without this spread the whole probe runs
      // on a single core at every parallelism level (r1 defect).
      .repartition(spark.sparkContext.defaultParallelism * 2)
    val sigs = docs.select(
      Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 5), 64)
        .as("sig"))
    val (_, t) = time {
      sigs.agg(sum(element_at(col("sig"), 1).cast("double"))).head()
    }
    t
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hi = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val lo = math.max(1, hi / 4)
    val full = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "500").toDouble
    def budgetLeft(frac: Double): Boolean = elapsed < frac * budgetSec
    val repeats = if (full) 2 else 1
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
    var spark = session(hi)
    safe("edges_raw") {
      fields("edges_raw") = CoPurchase.graph(spark, sfDir).edges.count()
        .toString
    }
    safe("headline_raw") {
      val h = headline(CoPurchase.graph(spark, sfDir), repeats)
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
    val tierPath = new java.io.File(
      s"target/bench-scaled-c${math.max(1, copies / 4)}").getAbsolutePath
    safe("scaled_write") {
      writeScaledEdges(spark, sfDir, copies, scaledPath)
      if (full) writeScaledEdges(spark, sfDir,
        math.max(1, copies / 4), tierPath)
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

    // --- scaling ladder: identical jobs, same scaled input file.
    // Default levels: (hi/4, hi) — the N -> 4N pair the north rule names.
    // Full mode adds (hi/8, hi/2): both leave the 32-core box headroom, so
    // neither saturates shared memory bandwidth — the faithful sandbox
    // analogue of N -> 4N executors, where each executor brings its OWN
    // bandwidth.
    var nEdges = 0L
    var cpLoT, cpHiT = -1.0
    val levels =
      (if (full) Seq(math.max(1, hi / 8), lo, math.max(1, hi / 2), hi)
       else Seq(lo, hi)).distinct
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
    val ladderMode =
      scala.collection.mutable.LinkedHashMap[Int, String]()
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
          s""""mode":"${ladderMode.getOrElse(c, "?")}"}"""
      }.mkString(",")
      val varianceSuspected = ladder.values.exists(spread(_) > 2.0)
      // Every completed 4x pair (guarded — r2 hardcoded levels(3) and a
      // small-cpu run would throw before any output landed). Both the
      // min-folded estimate (robust to hypervisor steal bursts) and the
      // untouched first-pass number are reported — the raw measurement
      // stays visible next to the estimator.
      val effs = levels.flatMap(a => levels.filter(_ == a * 4).flatMap(
        b => effNum(a, b).map(v =>
          s""""efficiency_${a}_${b}":${fmt(v)}""").toSeq ++
          effNum(a, b, epsFirst).map(v =>
            s""""efficiency_${a}_${b}_first_pass":${fmt(v)}""")))
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
    // Ladder levels run in-process (local[cpus]) by default.
    // SPARK_GRAFT_EXEC_LADDER=1 switches them to REAL separate executor
    // JVMs — (cpus / lo) executors x lo cores, so lo vs hi is literally
    // "N executors vs 4N executors" — but on THIS single box the
    // per-round driver->executor broadcast/RPC transport dominates at
    // 2e8 edges (measured: the 4x8 level crawled at <2 busy cores per
    // executor), so the timed ladder stays on threads for the driver
    // window and real-executor evidence comes from the cheap
    // executor-invariance section below. A failed cluster level falls
    // back to threads automatically so the north-rule metric never
    // vanishes.
    val threadLadder =
      !sys.env.get("SPARK_GRAFT_EXEC_LADDER").contains("1")
    val execMemMb =
      sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "16384").toInt
    // Every level runs the SAME fixed number of passes (default 3),
    // unconditionally and symmetrically — no value-conditioned stopping.
    val ladderPasses =
      sys.env.getOrElse("SPARK_GRAFT_LADDER_PASSES", "3").toInt
    /** One ladder level: `ladderPasses` headline passes; re-runs of the
      * same level (cluster->thread fallback) append their passes, keeping
      * the true first pass first. */
    def runLevel(cpus: Int, cluster: Boolean): Unit = {
      val execs = math.max(1, cpus / lo)
      val per = cpus / execs
      spark =
        if (cluster) clusterSession(execs, per, execMemMb)
        else session(cpus)
      val mode = if (cluster) s"${execs}x$per executors" else s"local[$cpus]"
      safe(s"scaling_$cpus($mode)") {
        val g = readScaledGraph(spark, scaledPath)
        nEdges = g.edges.count()
        val r = headline(g, ladderPasses)
        g.unload() // free the big cache before the next section
        ladder(cpus) = ladder.get(cpus) match {
          case Some(p) => Headline(p.prSecs ++ r.prSecs,
            p.wccSecs ++ r.wccSecs, r.wccRounds, r.checksum)
          case None => r
        }
        ladderMode(cpus) = mode
        emitScaling()
      }
      if (full && cpus == lo && !ladder.contains(hi) && budgetLeft(0.6))
        safe("probe_lo") {
          computeProbe(spark, sfDir, 2) // JIT warm-up for the probe
          cpLoT = math.min(computeProbe(spark, sfDir, 4),
            computeProbe(spark, sfDir, 4))
        }
      spark.stop()
      // Level isolation: leftover garbage from the previous level's
      // cached graph otherwise lands as GC pauses inside the next
      // level's timing.
      System.gc()
    }
    for (cpus <- levels) {
      if (cpus == hi || cpus == lo || budgetLeft(0.8)) {
        runLevel(cpus, cluster = !threadLadder)
        // thread fallback if the cluster level failed to produce a number
        if (!threadLadder && !ladder.contains(cpus))
          runLevel(cpus, cluster = false)
      }
    }
    // (r3's value-conditioned retry loop is GONE: re-measuring only while
    // the efficiency sat outside the accepted band was selective stopping
    // — it biased the headline toward the plausible window. The fixed
    // symmetric 3 passes above + the steal_suspected flag replace it.)
    // Multi-executor invariance (the north rule's "two cluster sizes" on
    // REAL separate executor JVMs; reference precedent:
    // python/tests/test_scalability.py:42-56): PageRank+WCC on the raw
    // graph must produce IDENTICAL checksums on a 1-executor and a
    // 4-executor local-cluster. Cheap (raw sf, two short sessions) and
    // untimed — correctness across cluster sizes, not throughput.
    if (budgetLeft(0.9)) safe("executor_invariance") {
      // Spark allows ONE active context per JVM — getOrCreate on an
      // active session would silently IGNORE the local-cluster master
      // (and the checks would fraudulently run in-process). The ladder
      // always stops its last session; make it impossible regardless.
      if (spark != null && !spark.sparkContext.isStopped) spark.stop()
      val per = math.max(2, lo / 2)
      def chk(execs: Int): (Double, Long, Int) = {
        val s = clusterSession(execs, per, 4096)
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

    // Later sections (tiers/probe/final stop) need an OPEN hi session —
    // the invariance section leaves the last session stopped.
    if (spark == null || spark.sparkContext.isStopped) spark = session(hi)
    // Strategy-tier comparison (Strategy.Broadcast / Shuffle / CsrGather)
    // on one quarter-size scaled graph: the same 3 PageRank rounds under
    // each forced tier. Broadcast wins while the vertex state fits an
    // executor; past that limit the REAL alternatives are the
    // co-partitioned shuffle join vs the CSR block gather — the CSR tier
    // avoids touching/sorting the edge relation per round (measured ~3x
    // over the shuffle join at 148M edges) at the price of a one-time
    // block build, which is what survives at 10^9+ vertices.
    if (full && budgetLeft(0.7)) safe("scaling_tiers") {
      val results = Seq(
        "broadcast" -> None,
        "shuffle" -> Some("graft.force.shuffle"),
        "csr" -> Some("graft.force.csr")
      ).map { case (name, prop) =>
        prop.foreach(sys.props(_) = "true")
        try {
          // fresh graph instance per tier: prepared-view caches are
          // per-instance, so tiers don't reuse each other's placement
          val g = readScaledGraph(spark, tierPath)
          val ne = g.edges.count()
          PageRank.run(g, 0.85, 1).count() // prepare + JIT warmth
          def once = time {
            PageRank.run(g, 0.85, 3)
              .agg(round(sum(col("rank")) * 1e6, 0)).head().getDouble(0)
          }._2
          val t = math.min(once, once) // min-of-2: hypervisor-noise robust
          g.unload()
          s""""$name":{"pr3_sec":${fmt(t, 2)},""" +
            s""""eps":${(ne.toDouble * 3 / t).round}}"""
        } finally prop.foreach(sys.props.remove(_))
      }
      fields("scaling_tiers") = results.mkString("{", ",", "}")
      emit()
    }
    // Hub-skew salting probe (north rule: "salting for hub-vertex skew"):
    // a deterministic graph with one 10M-out-edge hub over a 1M-vertex
    // space + 20M background edges. Unsalted, the hub's whole adjacency
    // lands in ONE CSR block (~16x the median block — a straggler task
    // while the other cores idle); salted at threshold 2M it splits
    // across k=5 pid slots. Same sum scan, same result, timed both ways.
    if (full && budgetLeft(0.8)) safe("skew_salting") {
      import graft.graph.EdgeBlocks
      val p = spark.sparkContext.defaultParallelism
      val v = 1000000L
      val bg = spark.range(20000000L).select(
        pmod(xxhash64(col("id"), lit(1)), lit(v)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(v)).as("dst"))
      val hubDeg = 10000000L
      val hub = spark.range(hubDeg).select(lit(0L).as("src"),
        pmod(xxhash64(col("id"), lit(3)), lit(v)).as("dst"))
      val edges = bg.unionByName(hub).where(col("src") =!= col("dst"))
        .repartition(p * 2).persist()
      val ne = edges.count()
      val state = spark.range(v).select(col("id").as("vid"),
        lit(1.0).as("value")).persist()
      state.count()
      // state values are 1.0 and every per-dst sum is an exact
      // integer-valued double (< 2^53), so the total is order-independent
      // and the salted/unsalted checksums compare EXACTLY.
      def gatherChk(csr: EdgeBlocks.CsrGraph): (Double, Double) =
        time {
          EdgeBlocks.scan(csr, EdgeBlocks.Combine.Sum, state, p)
            .agg(sum(col("msg"))).head().getDouble(0)
        }.swap
      def packed(salts: Option[DataFrame]) = {
        val b = EdgeBlocks.build(edges, p, salts).persist()
        b.count()
        EdgeBlocks.CsrGraph(b, salts)
      }
      val plain = packed(None)
      val (tPlain, chkPlain) = Seq.fill(3)(gatherChk(plain)).minBy(_._1)
      plain.unpersist()
      val salts = EdgeBlocks.hubSalts(edges, 2000000L, p)
      val k = salts.map(_.where(col("vid") === 0L).head().getInt(1))
        .getOrElse(1)
      val salted = packed(salts)
      val (tSalted, chkSalted) = Seq.fill(3)(gatherChk(salted)).minBy(_._1)
      salted.unpersist()
      edges.unpersist(); state.unpersist()
      fields("skew_salting") =
        s"""{"edges":$ne,"hub_degree":$hubDeg,"salt_k":$k,""" +
          s""""unsalted_gather_sec":${fmt(tPlain, 2)},""" +
          s""""salted_gather_sec":${fmt(tSalted, 2)},""" +
          s""""speedup":${fmt(tPlain / tSalted, 2)},""" +
          s""""results_match":${chkPlain == chkSalted}}"""
      emit()
    }
    if (full && cpLoT > 0 && budgetLeft(0.85)) safe("probe_hi") {
      computeProbe(spark, sfDir, 2)
      cpHiT = math.min(computeProbe(spark, sfDir, 4),
        computeProbe(spark, sfDir, 4))
      if (cpLoT > 0 && cpHiT > 0) {
        fields("scaling_compute") =
          s"""{"minhash_sec_lo":${fmt(cpLoT, 2)},""" +
          s""""minhash_sec_hi":${fmt(cpHiT, 2)},""" +
          s""""efficiency":${fmt((cpLoT / cpHiT) / (hi.toDouble / lo))}}"""
      }
    }
    // EXPERIMENTAL timed executor-JVM ladder (FULL only): the same
    // PageRank+WCC headline on the quarter-size scaled graph at 1 vs 4
    // REAL executor JVMs (lo cores each, own heap/GC, serialized
    // driver<->executor transport) — literally the north rule's "N vs 4N
    // executors", the evidence class the thread ladder can't provide.
    // Caveat (documented, why this is flagged experimental and runs on
    // the SMALLER graph): on this single box all executor JVMs share one
    // memory bus and the per-round broadcast/RPC hop is cross-process
    // loopback, so absolute eps is transport-bound and NOT comparable to
    // the thread ladder's — only the 1->4 ratio on identical bytes is
    // meaningful, and even it understates a real cluster where each
    // executor brings its own memory bandwidth and NIC.
    if (full && budgetLeft(0.9)) safe("exec_ladder") {
      if (spark != null && !spark.sparkContext.isStopped) spark.stop()
      val runs = Seq(1, 4).map { execs =>
        val s = clusterSession(execs, lo, execMemMb)
        try {
          val g = readScaledGraph(s, tierPath)
          val ne = g.edges.count()
          val h = headline(g, 2)
          g.unload()
          (execs, ne, h)
        } finally { s.stop(); System.gc() }
      }
      def eps(r: (Int, Long, Headline)): Double =
        r._2.toDouble * (10 + r._3.wccRounds) / (r._3.prMin + r._3.wccMin)
      val eff = (eps(runs(1)) / eps(runs(0))) / 4.0
      val entries = runs.map { case r @ (e, _, h) =>
        s""""e$e":{"pr_sec":${fmt(h.prMin, 2)},""" +
          s""""wcc_sec":${fmt(h.wccMin, 2)},""" +
          s""""eps":${eps(r).round}}"""
      }
      val matches = runs.map(r => (r._3.checksum, r._3.wccRounds))
        .toSet.size == 1
      fields("exec_ladder") =
        s"""{"experimental":true,"transport_bound":true,""" +
          s""""edges":${runs.head._2},"cores_per_executor":$lo,""" +
          entries.mkString(",") + "," +
          s""""efficiency_1_4":${fmt(eff)},""" +
          s""""results_match":$matches}"""
      emit()
    }
    if (spark != null && !spark.sparkContext.isStopped) spark.stop()
    putQueries(); emit()
    System.err.println(f"[bench] done in ${elapsed}%.1fs")
    sys.exit(0)
  }
}
