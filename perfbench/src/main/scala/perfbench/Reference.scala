package perfbench

import scala.collection.mutable

/** Plain-Scala (no Spark) reference for everything the benchmark checks:
  * the repo link graph derived from a catalog, and the apps over an
  * edge list. Written from the documented semantics of
  * graft.graphbuild.GraphBuilder and graft.apps.*, not from their code. */
object Reference {

  final case class FileRow(repo: String, path: String, content: String)

  /** Vertex `i` is repository `oids(i)`; edges are distinct directed
    * (src, dst) pairs without self loops. */
  final case class Graph(oids: Array[String], edges: Array[(Int, Int)]) {
    def n: Int = oids.length
    lazy val outDeg: Array[Int] = degrees(edges.map(_._1))
    lazy val inDeg: Array[Int] = degrees(edges.map(_._2))
    private def degrees(ends: Array[Int]): Array[Int] = {
      val d = new Array[Int](n)
      ends.foreach(v => d(v) += 1)
      d
    }
    /** Neighbor sets of the undirected simple view. */
    lazy val undirected: Array[Array[Int]] = {
      val s = Array.fill(n)(mutable.Set[Int]())
      edges.foreach { case (a, b) => s(a) += b; s(b) += a }
      s.map(_.toArray.sorted)
    }
  }

  private val importRe = "import org\\.(repo[0-9]+)".r
  private val baseRe = java.util.regex.Pattern.compile(
    "([^/]+?)(_[0-9]+)?\\.[^.]+$")

  /** Vertices are repositories (file owners and import targets), numbered
    * by the byte order of their names. Edges: one per (importer, imported)
    * pair, plus both directions of every pair of repositories sharing a
    * path basename, for basenames held by at most `maxFanout` repos. */
  def build(files: Seq[FileRow], maxFanout: Int = 32): Graph = {
    val imports = files.flatMap(f => importRe.findAllMatchIn(f.content)
        .map(m => (f.repo, "org/" + m.group(1))))
      .filter { case (a, b) => a != b }.distinct
    val baseRepos = files.map { f =>
      val m = baseRe.matcher(f.path)
      (if (m.find()) m.group(1) else "", f.repo)
    }.distinct
    val pairs = baseRepos.groupBy(_._1).values
      .filter(_.size <= maxFanout)
      .flatMap { g =>
        val rs = g.map(_._2)
        for (a <- rs; b <- rs if a < b) yield (a, b)
      }.toSeq.distinct
    val oids = (files.map(_.repo) ++ imports.map(_._2)).distinct.sorted.toArray
    val vid = oids.zipWithIndex.toMap
    val es = imports.map { case (a, b) => (vid(a), vid(b)) } ++
      pairs.flatMap { case (a, b) =>
        Seq((vid(a), vid(b)), (vid(b), vid(a))) }
    Graph(oids, es.filter { case (a, b) => a != b }.distinct.sorted.toArray)
  }

  /** PageRank as in graft.apps.PageRank: p0 = 1/N, messages rank/outdeg
    * along out-edges, dangling vertices take the base value, exactly
    * `rounds` rounds. */
  def pagerank(g: Graph, rounds: Int = 10, d: Double = 0.85)
      : Array[Double] = {
    val n = g.n.toDouble
    val deg = g.outDeg
    val dangling = deg.count(_ == 0).toDouble
    var rank = Array.fill(g.n)(1.0 / n)
    var danglingSum = dangling / n
    for (_ <- 1 to rounds) {
      val base = (1.0 - d) / n + d * danglingSum / n
      danglingSum = base * dangling
      val msum = new Array[Double](g.n)
      g.edges.foreach { case (s, t) => msum(t) += rank(s) / deg(s) }
      rank = Array.tabulate(g.n)(v =>
        if (deg(v) == 0) base else d * msum(v) + base)
    }
    rank
  }

  /** Component label = smallest vertex id of the undirected component,
    * with the number of synchronous min-label rounds a frontier-driven
    * run takes (the last round changes nothing). */
  def wcc(g: Graph): (Array[Long], Int) = {
    val comp = Array.tabulate(g.n)(_.toLong)
    var frontier = Array.fill(g.n)(true)
    var rounds = 0
    var changed = 1
    while (changed > 0) {
      rounds += 1
      val msg = comp.clone()
      for (v <- 0 until g.n if frontier(v); u <- g.undirected(v))
        if (comp(v) < msg(u)) msg(u) = comp(v)
      val next = Array.fill(g.n)(false)
      changed = 0
      for (v <- 0 until g.n if msg(v) < comp(v)) {
        comp(v) = msg(v); next(v) = true; changed += 1
      }
      frontier = next
    }
    (comp, rounds)
  }

  /** Synchronous label propagation as in graft.apps.CDLP: each round a
    * vertex takes the most frequent label over the multiset of its in-
    * and out-neighbors, smallest label on ties; isolated vertices keep
    * theirs. */
  def cdlp(g: Graph, rounds: Int = 10): Array[Long] = {
    val nbrs = Array.fill(g.n)(mutable.ArrayBuffer[Int]())
    g.edges.foreach { case (s, t) => nbrs(t) += s; nbrs(s) += t }
    var label = Array.tabulate(g.n)(_.toLong)
    for (_ <- 1 to rounds) {
      val cur = label
      label = Array.tabulate(g.n) { v =>
        if (nbrs(v).isEmpty) cur(v)
        else nbrs(v).groupBy(cur(_)).iterator
          .map { case (l, xs) => (-xs.size, l) }.min._2
      }
    }
    label
  }

  /** Values equal per vertex within an absolute and relative 1e-6. */
  def allClose(got: Array[Double], want: Array[Double]): Boolean =
    got.length == want.length && got.indices.forall { i =>
      math.abs(got(i) - want(i)) <= 1e-6 + 1e-6 * math.abs(want(i))
    }
}
