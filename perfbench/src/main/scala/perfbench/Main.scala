package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.apps.{CDLP, PageRank, WCC}
import graft.graph.SimpleGraph
import graft.graphbuild.GraphBuilder
import graft.model.SourceFiles
import graft.ops.VertexDataContext
import graft.pregel.CheckpointConfig
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

/** Closed-loop benchmark with one caller over the repo link graph.
  *
  *   suite     load once (catalog -> graph -> placement by one untimed pass
  *             of the apps), then time warm passes of PageRank(10), WCC and
  *             CDLP(10) on the loaded graph. An op is one pass.
  *   pipeline  the catalog keeps changing: each op replaces one fixed-size
  *             slice of a SnapshotTable catalog, reads the snapshot,
  *             rebuilds the graph, runs PageRank(10) with snapshot
  *             checkpoints and seals the ranks as a snapshot table.
  *
  * Every output is checked, untimed, against the plain-Scala Reference.
  *
  * Usage: Main --workload suite|pipeline --seed N --seconds S --trace 0|1
  *             --workdir DIR --results DIR
  */
object Main {

  /** Generated catalog size; about 6k vertices and 35k directed edges. */
  val CatalogFiles = 20000L
  val Repos = 6000
  /** The pipeline catalog is cut into this many slices; an op replaces
    * one, so the catalog size stays constant. */
  val Slices = 10
  val Rounds = 10

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Set("suite", "pipeline")(workload), s"unknown workload $workload")
    val knobs = sys.env.keys.filter(k => k.startsWith("GRAFT_FORCE_") ||
        k == "GRAFT_SALT_THRESHOLD" || k == "GRAFT_ITER_VERBOSE") ++
      sys.props.keys.filter(_.startsWith("graft."))
    if (knobs.nonEmpty) {
      System.err.println("refusing to run with program knobs set: " +
        knobs.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val work = new File(opts("workdir")).getAbsoluteFile
    val results = new File(opts("results")).getAbsoluteFile

    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val bench = new Bench(spark, workload, opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", work, nproc)
    val out = try Metrics.outcome(bench.run()) finally spark.stop()
    Files.createDirectories(results.toPath)
    val file = new File(results, s"$workload-seed${opts("seed")}-" +
      s"trace${opts("trace")}-${System.currentTimeMillis()}.json")
    Files.write(file.toPath, Json.render(out.record).getBytes(UTF_8))
    out.lines.foreach(println)
    println(s"result file: ${file.getPath}")
    println(Json.render(out.summaryLine))
    if (!out.correct) sys.exit(1)
  }
}

/** Expected outputs of the apps on one graph, computed lazily without
  * Spark. */
final class Expected(val ref: Reference.Graph) {
  def n: Int = ref.n
  private val memo = mutable.Map[(String, Int), Array[_]]()
  def pagerank(rounds: Int): Array[Double] = memo.getOrElseUpdate(
    ("pagerank", rounds), Reference.pagerank(ref, rounds))
    .asInstanceOf[Array[Double]]
  def cdlp(rounds: Int): Array[Long] = memo.getOrElseUpdate(
    ("cdlp", rounds), Reference.cdlp(ref, rounds)).asInstanceOf[Array[Long]]
  lazy val (wcc: Array[Long], wccRounds: Int) = Reference.wcc(ref)
}

/** What one run recorded, for [[Metrics]]. */
final class Record(val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val nproc: Int,
    val tr: Trace) {
  var setupWall = Double.NaN
  /** Per op: latency, and whether it failed. */
  val ops = mutable.ArrayBuffer[(Double, Boolean)]()
  val opDiskBytes = mutable.ArrayBuffer[Double]()
  /** Storage held by a loaded graph, and the part its placement added. */
  val cachedBytes = mutable.ArrayBuffer[Double]()
  val placedBytes = mutable.ArrayBuffer[Double]()
  /** (app, span id, rounds, directed edges of its graph) per app call. */
  val appCalls = mutable.ArrayBuffer[(String, Int, Int, Long)]()
  /** graphbuild span id -> (vertices, edges); sources.read span id ->
    * files the snapshot plans. */
  val builds = mutable.Map[Int, (Long, Long)]()
  val reads = mutable.Map[Int, Int]()
  val failures = mutable.ArrayBuffer[String]()
  val input = mutable.LinkedHashMap[String, Any]()
}

final class Bench(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, work: File, nproc: Int) {
  import Main._

  private val sc = spark.sparkContext
  private val tr = new Trace(sc)
  private val rec = new Record(workload, seed, seconds, trace, nproc, tr)
  private val catalogCols = Seq("repo", "path", "commit", "lang", "content",
    "slice")

  def run(): Record = {
    if (trace) tr.attach()
    if (workload == "suite") runSuite() else runPipeline()
    tr.detach()
    rec
  }

  // --------------------------------------------------------------- input

  private def generate(s: Long): DataFrame =
    SourceFiles.generate(spark, CatalogFiles, Repos, seed = s)
      .withColumn("slice", (regexp_extract(col("path"),
        "_([0-9]+)\\.[a-z]+$", 1).cast("long") % Slices).cast("int"))

  /** Seed of the slice that pipeline op `i` writes. */
  private def batchSeed(i: Int): Long = seed * 1000003L + i + 1

  private def collectCatalog(df: DataFrame): Seq[Seq[String]] =
    df.select(catalogCols.map(c => col(c).cast("string")): _*).collect()
      .map(r => catalogCols.indices.map(r.getString)).toSeq

  private def reference(rows: Iterable[Seq[String]]): Reference.Graph =
    Reference.build(rows.map(r => Reference.FileRow(r(0), r(1), r(4))).toSeq)

  // ------------------------------------------- calls into the layers

  /** model: generate and materialize catalog rows. */
  private def model(df: => DataFrame): DataFrame =
    tr.span("model.generate") { _ =>
      val d = df.persist()
      d.count()
      d
    }

  private def readCatalog(table: String): DataFrame =
    tr.span("sources.read") { s =>
      val df = SnapshotTable.read(spark, table)
      rec.reads(s.id) = SnapshotTable.manifest(spark, table,
        SnapshotTable.currentVersionOpt(spark, table).get).files.size
      df
    }

  /** graphbuild: derive the graph and materialize it once, so the apps
    * and their placement read the built edges, not the catalog. */
  private def buildGraph(files: DataFrame): Loaded =
    tr.span("graphbuild.build") { s =>
      val mark = rddMark()
      val rg = GraphBuilder.build(files)
      val v = rg.vertices.persist()
      val e = rg.edges.persist()
      rec.builds(s.id) = (v.count(), e.count())
      new Loaded(GraphBuilder.RepoGraph(v, e), rec.builds(s.id)._2, mark)
    }

  /** A built graph; `mark` is the first RDD id its build created, so
    * storage(mark) is the Spark storage the graph and its views hold. */
  private final class Loaded(val rg: GraphBuilder.RepoGraph,
      val edges: Long, val mark: Int) {
    val g: SimpleGraph = rg.simple(directed = true)
    def unload(): Unit = {
      g.unload(); rg.vertices.unpersist(); rg.edges.unpersist()
    }
  }

  /** Runs one app in its span; returns its output. */
  private def app[T](name: String, l: Loaded)(f: => (T, Int)): T = {
    tr.span(s"app.$name") { s =>
      val (out, rounds) = f
      rec.appCalls += ((name, s.id, rounds, l.edges))
      out
    }
  }

  /** Spark storage held by cached DataFrames created at or after RDD id
    * `since`. Cached DataFrames carry their plan as the RDD name; the
    * per-round state checkpoints (plain RDD class names) are left out, as
    * the engine releases them only when they are garbage collected. */
  private def storage(since: Int): Double =
    sc.getRDDStorageInfo.filter(i => i.id >= since && i.name.contains(' '))
      .map(i => i.memSize + i.diskSize).sum.toDouble

  private def rddMark(): Int = sc.emptyRDD[Int].id

  // ------------------------------------------------------------ checking

  private def check(what: String)(ok: => Boolean): Boolean = {
    val r = try ok catch {
      case e: Throwable =>
        rec.failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        return false
    }
    if (!r) rec.failures += s"$what: output differs from the reference"
    r
  }

  private def byVid[T: scala.reflect.ClassTag](df: DataFrame, n: Int,
      empty: T)(get: org.apache.spark.sql.Row => T): Array[T] = {
    val a = Array.fill(n)(empty)
    df.collect().foreach(r => a(r.getLong(0).toInt) = get(r))
    a
  }
  private def longs(df: DataFrame, n: Int) =
    byVid(df, n, Long.MinValue)(_.getLong(1))
  private def doubles(df: DataFrame, n: Int) =
    byVid(df, n, Double.NaN)(_.getDouble(1))

  /** The built graph equals the reference graph of the catalog rows. */
  private def graphMatches(l: Loaded, ref: Reference.Graph): Boolean = {
    val oids = l.rg.vertices.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val edges = l.rg.edges.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt)).sorted
    oids.map(_._2).sameElements(ref.oids) &&
      oids.map(_._1).sameElements(ref.oids.indices.map(_.toLong)) &&
      edges.sameElements(ref.edges)
  }

  // ---------------------------------------------------------------- load

  /** A sealed catalog table and the rows each of its slices should hold. */
  private final class Catalog(val dir: File) {
    val table: String = new File(dir, "catalog").toString
    val slices = mutable.Map[Int, Seq[Seq[String]]]()
    def rows: Seq[Seq[String]] = slices.values.flatten.toSeq.sortBy(_(1))
  }

  /** Set-up: generate the catalog, seal it as a snapshot table (one data
    * file per slice), read the snapshot and build the graph, then run
    * `warm` on it: the first work on the fresh graph (placement and the
    * first, cold app calls). The catalog rows, the graph and the warm-up
    * outputs are checked untimed. setup_s is the time from process start
    * to the end of the warm-up, without those checks. */
  private def setUp(warm: (Catalog, Loaded, Expected) => (() => Boolean))
      : (Catalog, Loaded, Expected) = {
    val c = new Catalog(new File(work, "tables"))
    var cat: DataFrame = null
    var files: DataFrame = null
    var l: Loaded = null
    val s = tr.span("setup") { s =>
      cat = model(generate(seed))
      tr.span("sources.append") { _ =>
        SnapshotTable.create(
          SnapshotTable.clustered(cat, Seq("slice"), Slices), c.table)
      }
      files = readCatalog(c.table)
      l = buildGraph(files)
      s
    }
    collectCatalog(cat).groupBy(_(5).toInt).foreach { case (i, rs) =>
      c.slices(i) = rs }
    cat.unpersist()
    val e = new Expected(reference(c.rows))
    check("sources")(collectCatalog(files).sortBy(_(1)) == c.rows)
    check("graphbuild")(graphMatches(l, e.ref))
    var chk: () => Boolean = null
    val w = tr.span("warmup") { w => chk = warm(c, l, e); w }
    check("warm-up")(chk())
    rec.setupWall = sessionReady + (s.wall + w.wall) / 1000.0
    progress(f"set-up: session ${sessionReady}%.2f s, load " +
      f"${s.wall / 1000}%.2f s, warm-up ${w.wall / 1000}%.2f s")
    recordShape(e)
    (c, l, e)
  }

  /** Seconds from process start until the Spark session was ready. */
  private val sessionReady =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  // --------------------------------------------------------------- suite

  private val suiteApps = Seq("pagerank", "wcc", "cdlp")

  /** Runs one app on the loaded graph (timed) and returns the untimed
    * check of its output. */
  private def suiteApp(name: String, l: Loaded, rounds: Int)
      : Expected => Boolean =
    name match {
      case "pagerank" =>
        val r = app(name, l)((PageRank.run(l.g, maxRound = rounds), rounds))
        e => check(name)(Reference.allClose(doubles(r, e.n),
          e.pagerank(rounds)))
      case "wcc" =>
        val (r, rounds) = app(name, l) {
          val x = WCC.runWithRounds(l.g); (x, x._2) }
        e => check(name)(rounds == e.wccRounds &&
          longs(r, e.n).sameElements(e.wcc))
      case "cdlp" =>
        val r = app(name, l)((CDLP.run(l.g, maxRound = rounds), rounds))
        e => check(name)(longs(r, e.n).sameElements(e.cdlp(rounds)))
    }

  /** One pass of the apps over the loaded graph; returns its check. */
  private def suitePass(l: Loaded, e: Expected, rounds: Int)
      : () => Boolean = {
    val checks = suiteApps.map(suiteApp(_, l, rounds))
    () => checks.map(_(e)).forall(identity)
  }

  private def runSuite(): Unit = {
    val (_, l, e) = setUp { (_, l, e) =>
      val before = storage(l.mark)
      val pass = suitePass(l, e, Rounds)
      rec.cachedBytes += storage(l.mark)
      rec.placedBytes += storage(l.mark) - before
      pass
    }
    loop(_ => suitePass(l, e, Rounds))
  }

  // ------------------------------------------------------------ pipeline

  /** PageRank with snapshot checkpoints, then seal the ranks. */
  private def pagerankAndSeal(dir: File, runId: String, l: Loaded,
      rounds: Int): String = {
    val before = storage(l.mark)
    val ranks = app("pagerank", l) {
      (PageRank.run(l.g, maxRound = rounds, checkpoint = CheckpointConfig(
        dir = Some(new File(dir, "checkpoints").toString), runId = runId,
        snapshot = true)), rounds)
    }
    rec.cachedBytes += storage(l.mark)
    rec.placedBytes += storage(l.mark) - before
    val out = new File(dir, "ranks").toString
    tr.span("ops.output") { _ =>
      VertexDataContext(l.g, ranks, "rank")
        .output(out, Map("vid" -> "v.id", "rank" -> "r"), format = "snapshot")
    }
    out
  }

  /** Untimed checks of one pipeline round: the catalog snapshot holds the
    * expected rows, the graph is the reference graph of those rows, and
    * the sealed ranks validate against their lineage, hold one row per
    * vertex and match the reference PageRank. */
  private def checkPipeline(c: Catalog, files: DataFrame, l: Loaded,
      out: String, rounds: Int): Boolean = {
    val e = new Expected(reference(c.rows))
    check("sources")(collectCatalog(files).sortBy(_(1)) == c.rows) &&
      check("graphbuild")(graphMatches(l, e.ref)) &&
      check("ops.output") {
        SnapshotTable.validate(spark, out,
          SnapshotTable.currentVersionOpt(spark, out).get)
        val ranks = SnapshotTable.read(spark, out).select("vid", "rank")
        ranks.count() == e.n &&
          Reference.allClose(doubles(ranks, e.n), e.pagerank(rounds))
      }
  }

  private def runPipeline(): Unit = {
    // Each op builds its own graph; the loaded one only warms up.
    val (c, _, _) = setUp { (c, l, _) =>
      val out = pagerankAndSeal(c.dir, "warmup", l, Rounds)
      () => {
        val ok = checkPipeline(c, SnapshotTable.read(spark, c.table), l,
          out, Rounds)
        l.unload()
        ok
      }
    }
    loop { i =>
      val slice = i % Slices
      val before = du(c.dir)
      val batch = model(generate(batchSeed(i)).where(col("slice") === slice))
      tr.span("sources.append") { _ =>
        SnapshotTable.delete(spark, c.table, Seq(EqualTo("slice", slice)))
        SnapshotTable.append(SnapshotTable.clustered(batch, Seq("slice"), 1),
          c.table)
      }
      val files = readCatalog(c.table)
      val l = buildGraph(files)
      val out = pagerankAndSeal(c.dir, s"op$i", l, Rounds)
      () => {
        rec.opDiskBytes += du(c.dir) - before
        c.slices(slice) = collectCatalog(batch)
        batch.unpersist()
        val ok = checkPipeline(c, files, l, out, Rounds)
        l.unload()
        ok
      }
    }
  }

  // ---------------------------------------------------------- the loop

  private def recordShape(e: Expected): Unit = rec.input ++= Seq(
    "seed" -> seed, "nproc" -> nproc, "files" -> CatalogFiles, "repos" -> Repos,
    "vertices" -> e.n, "edges" -> e.ref.edges.length,
    "max_in_degree" -> e.ref.inDeg.max, "max_out_degree" -> e.ref.outDeg.max,
    "wcc_rounds" -> e.wccRounds,
    "spark" -> spark.version, "jdk" -> System.getProperty("java.version"))

  /** Runs ops back to back until their summed latency reaches the run
    * length (at least one; a wall-clock cap bounds slow runs). An op runs
    * timed in an `op` span and returns its untimed check. */
  private def loop(op: Int => (() => Boolean)): Unit = {
    val start = tr.now()
    var i = 0
    def timed = rec.ops.map(_._1).filterNot(_.isNaN).sum
    while (i == 0 || (timed < seconds &&
        tr.now() - start < 2000 * seconds)) {
      tr.op = i
      val (wall, chk) =
        try {
          var c: () => Boolean = null
          val s = tr.span("op") { s => c = op(i); s }
          (s.wall / 1000.0, c)
        } catch {
          case e: Throwable =>
            rec.failures +=
              s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
            (Double.NaN, () => false)
        } finally tr.op = -1
      val ok = check(s"op $i")(chk())
      rec.ops += ((wall, !ok))
      progress(f"op $i ${wall}%.2f s${if (ok) "" else " FAILED"}")
      i += 1
    }
  }

  private def progress(msg: String): Unit =
    System.err.println(s"[perfbench] $workload: $msg")

  private def du(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length().toDouble
}
