package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The superstep gather, and the partition-local CSR adjacency blocks its
  * largest tier runs on.
  *
  * Every superstep app gathers messages along edges and combines them per
  * vertex (the reference's IncEval plus message combiner). [[superstep]]
  * is that step, keyed by a [[Combine]]; it owns the tier choice of
  * [[Strategy]]: at the Broadcast and Shuffle tiers it plans
  * `edges ⋈ state → groupBy(dst[, label]).agg(…)`, at the CsrGather tier
  * it runs [[scan]] over the blocks.
  *
  * Blocks (north rule): each row holds one partition's compressed
  * adjacency — the Spark re-expression of the reference fragment's
  * `ie_offsets_begin/end` + flat `NbrUnit` arrays
  * (analytical_engine/core/fragment/arrow_projected_fragment.h:431-470).
  * Edges are hash-partitioned by src (pid = pmod(xxhash64(src), P), the
  * role of the reference's vid_parser fid bits), sorted, and packed once;
  * a gather then joins P state-bundles against P block rows (a P-row join,
  * not an |E|-row join) and scans arrays locally — the edge table is never
  * reshuffled per iteration.
  *
  * Neighbor ids are stored densified per block (`dstIndex` into the sorted
  * `dstUnique`), so the per-superstep gather accumulates into flat
  * primitive arrays — no hash map, no boxing, in the |E| loop (the r1
  * HashMap.merge formulation was ~30x slower than the join path; this one
  * is array arithmetic, like the reference's dense `vertex_array_t`
  * accumulators).
  */
object EdgeBlocks {

  /** One pid's CSR adjacency. `weights` runs parallel to `dstIndex` on a
    * weighted build (the reference's NbrUnit carries eid -> edata the same
    * way) and is empty otherwise. */
  final case class EdgeBlock(
      pid: Int,
      srcIds: Array[Long],     // distinct sorted srcs in this partition
      dstOffsets: Array[Int],  // len = srcIds.length + 1 (CSR offsets)
      dstIndex: Array[Int],    // flat neighbor array, densified
      dstUnique: Array[Long],  // sorted distinct dsts; dstUnique(dstIndex(j))
      weights: Array[Double])

  /** Blocks + the salt table they were built with (pass both to gathers;
    * a salt table from a different build routes bundles to wrong pids). */
  final case class CsrGraph(
      blocks: Dataset[EdgeBlock], salts: Option[DataFrame]) {
    def unpersist(): Unit = {
      blocks.unpersist(); salts.foreach(_.unpersist())
    }
  }

  /** How a gather combines what a vertex receives. The state is
    * (vid, value); every edge src -> dst whose src has a state row sends
    * value(src) — plus the edge weight for MinPlus — and the result holds
    * one row per receiving dst, or per (dst, value(src)) for the label
    * combines:
    *
    *   Sum         (vid, msg: double)               Σ value
    *   Min         (vid, msg: long)                 min value
    *   MinPlus     (vid, msg: double)               min (value + weight)
    *   Collect     (vid, msg: array<long>)          every value
    *   LabelCount  (vid, label: long, msg: long)    count of edges
    *   LabelSum    (vid, label: long, msg: double)  Σ weight
    *
    * Each equals `edges ⋈ state → groupBy(dst[, label]).agg(…)`, duplicate
    * state vids included (every duplicate row joins every edge). */
  sealed abstract class Combine(
      private[graph] val valueType: String,
      val byLabel: Boolean,
      val weighted: Boolean) extends Product with Serializable

  object Combine {
    case object Sum extends Combine("double", false, false)
    case object Min extends Combine("long", false, false)
    case object MinPlus extends Combine("double", false, true)
    case object Collect extends Combine("long", false, false)
    case object LabelCount extends Combine("long", true, false)
    case object LabelSum extends Combine("long", true, true)
  }
  import Combine._

  /** One superstep's gather: (state, frontierRows) => messages, where
    * `frontierRows` is the state's row count when the caller knows it
    * (frontier apps pass last round's change count) and -1 otherwise. */
  type Gather = (DataFrame, Long) => DataFrame

  /** The gather over one edge view (src, dst [, weight]) for a whole run,
    * at a tier decided once. `edges(key)` returns the view placed
    * (hash-partitioned and cached) by `key`; `blocks` packs it into CSR
    * blocks. Both are forced on the first round that needs them.
    *
    *   - Broadcast: the view is placed by dst, so the groupBy(dst)
    *     aggregates in place, and the state is broadcast — one map-side
    *     hash join plus one tiny exchange of partial aggregates.
    *   - Shuffle: the view is placed by src, so the state join reuses the
    *     placement; small frontiers are still broadcast
    *     ([[Strategy.frontier]]).
    *   - CsrGather: [[scan]] over the blocks.
    */
  def superstep(tier: Strategy.Tier, c: Combine, p: Int,
      edges: String => DataFrame, blocks: => CsrGraph): Gather =
    if (tier == Strategy.CsrGather) {
      lazy val csr = blocks
      (state, _) => scan(csr, c, state, p)
    } else {
      val bcast = tier == Strategy.Broadcast
      lazy val placed = edges(if (bcast) "dst" else "src")
      val keys = col("dst").as("vid") +:
        (if (c.byLabel) Seq(col("value").as("label")) else Nil)
      val msg = c match {
        case Sum => sum(col("value"))
        case Min => min(col("value"))
        case MinPlus => min(col("value") + col("weight"))
        case Collect => collect_list(col("value"))
        case LabelCount => count(lit(1))
        case LabelSum => sum(col("weight"))
      }
      (state, frontierRows) => placed
        .join(Strategy.frontier(state.select(col("vid").as("src"),
          col("value").cast(c.valueType).as("value")), bcast, frontierRows),
          "src")
        .groupBy(keys: _*).agg(msg.as("msg"))
    }

  def pidOf(c: Column, p: Int): Column =
    pmod(xxhash64(c), lit(p)).cast("int")

  // ---------------------------------------------------------------------
  // Hub-vertex salting (north rule: "salting for hub-vertex skew").
  //
  // Hash-partitioning by src puts a hub's ENTIRE adjacency in one block:
  // at 10^12 edges a vertex with 10^9 out-edges makes one task scan 30x
  // the median block while 31 cores idle. Salting splits a hub src's
  // adjacency across k = ceil(deg/threshold) pid slots —
  // pid_i = (pid_base + i) mod p for i in [0, k) — and the state-bundle
  // router replicates that ONE state row to the same k slots, so every
  // gather sees a consistent (block, bundle) pairing. The final merge of
  // per-block partials is an associative groupBy (sum/min/flatten), which
  // is exactly why splitting a src across blocks is semantics-transparent.
  //
  // The pid arithmetic stays in [0, 2p) before the final pmod — never
  // raw xxhash64 + chunk, which can overflow Long under ANSI mode.
  // With k = 1 the chunk term is 0 and the pid equals pidOf, so an
  // unsalted vertex's placement is byte-identical to the unsalted build.
  // ---------------------------------------------------------------------

  /** Salt-table default: split a src only when its out-degree exceeds 8M
    * edges (a meaningful fraction of a 10^12/32k ≈ 3e7-edge block; at
    * test scale nothing triggers). Specs override it with
    * -Dgraft.salt.threshold. */
  def saltThreshold: Long =
    sys.props.get("graft.salt.threshold").map(_.toLong)
      .getOrElse(8L * 1000 * 1000)

  /** (vid, k) for every src whose out-degree exceeds `threshold`:
    * k = min(ceil(deg/threshold), p) pid slots. One degree aggregation at
    * build time; the table is hub-only and therefore tiny by definition
    * (broadcast on every use). Returns None when no vertex qualifies so
    * unsalted graphs pay zero per-round overhead. */
  def hubSalts(edges: DataFrame, threshold: Long, p: Int)
      : Option[DataFrame] = {
    require(threshold > 0, "saltThreshold must be positive")
    val s = edges.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("deg"))
      .where(col("deg") > threshold)
      .select(col("vid"),
        least(ceil(col("deg").cast("double") / threshold.toDouble),
          lit(p.toLong)).cast("int").as("k"))
      .persist()
    if (s.count() == 0L) { s.unpersist(); None } else Some(s)
  }

  /** Edge-side pid: base slot + per-edge chunk in [0, k), k from the
    * broadcast salt table (1 when absent). */
  private def edgePid(salts: Option[DataFrame], edges: DataFrame, p: Int)
      : DataFrame = salts match {
    case None =>
      edges.withColumn("pid", pidOf(col("src"), p))
    case Some(s) =>
      edges
        .join(broadcast(s.select(col("vid").as("src"), col("k"))),
          Seq("src"), "left")
        .withColumn("pid",
          pmod(pmod(xxhash64(col("src")), lit(p))
            + pmod(xxhash64(lit("chunk"), col("src"), col("dst")),
                coalesce(col("k"), lit(1)).cast("long")),
            lit(p)).cast("int"))
        .drop("k")
  }

  /** State-side routing: a (vid, lv, dv) state row goes to pid slot(s)
    * (base + i) mod p for i in [0, k) — one row for normal vertices, k
    * replicas for salted hubs — then bundles per pid. */
  private def bundleState(st: DataFrame, p: Int, salts: Option[DataFrame])
      : DataFrame = {
    val row = Seq(col("vid"), col("lv"), col("dv"))
    val routed = salts match {
      case None =>
        st.select(pidOf(col("vid"), p).as("pid") +: row: _*)
      case Some(s) =>
        st.join(broadcast(s), Seq("vid"), "left")
          .select(row :+ explode(sequence(lit(0),
            coalesce(col("k"), lit(1)) - 1)).as("i"): _*)
          .select(
            pmod(pmod(xxhash64(col("vid")), lit(p)) + col("i").cast("long"),
              lit(p)).cast("int").as("pid") +: row: _*)
    }
    routed.groupBy("pid").agg(collect_list(struct(row: _*)).as("vals"))
  }

  /** Pack an edge DataFrame (src, dst [, weight]) into P CSR blocks — one
    * block per pid; a `weight` column fills `weights`. (repartition hashes
    * the pid column, so one Spark partition can hold several pids; blocks
    * therefore split on pid boundaries.) With `salts`, hub srcs' adjacency
    * splits across their k pid slots — pass the SAME salt table to every
    * gather over these blocks. */
  def build(edges: DataFrame, p: Int,
      salts: Option[DataFrame] = None): Dataset[EdgeBlock] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val weighted = edges.columns.contains("weight")
    val w = if (weighted) col("weight").cast("double") else lit(0.0)
    edgePid(salts, edges.select(col("src"), col("dst"), w.as("weight")), p)
      .select(col("src"), col("dst"), col("weight"), col("pid"))
      .repartition(p, col("pid"))
      .sortWithinPartitions(col("pid"), col("src"), col("dst"))
      .as[(Long, Long, Double, Int)]
      .mapPartitions { it =>
        new Iterator[EdgeBlock] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): EdgeBlock = {
            val pid = buf.head._4
            val srcs = mutable.ArrayBuilder.make[Long]
            val offs = mutable.ArrayBuilder.make[Int]
            val dsts = mutable.ArrayBuilder.make[Long]
            val ws = mutable.ArrayBuilder.make[Double]
            var n = 0
            var last = Long.MinValue
            while (buf.hasNext && buf.head._4 == pid) {
              val (s, d, wt, _) = buf.next()
              if (n == 0 || s != last) { offs += n; srcs += s; last = s }
              dsts += d
              if (weighted) ws += wt
              n += 1
            }
            offs += n
            // Densify neighbors: sorted unique dsts + per-edge index.
            val flat = dsts.result()
            val uniq = {
              val a = flat.clone(); java.util.Arrays.sort(a)
              var u = 0
              var i = 0
              while (i < a.length) {
                if (u == 0 || a(u - 1) != a(i)) { a(u) = a(i); u += 1 }
                i += 1
              }
              java.util.Arrays.copyOf(a, u)
            }
            val idx = new Array[Int](flat.length)
            var i = 0
            while (i < flat.length) {
              idx(i) = java.util.Arrays.binarySearch(uniq, flat(i))
              i += 1
            }
            EdgeBlock(pid, srcs.result(), offs.result(), idx, uniq,
              ws.result())
          }
        }
      }
      // The typed mapPartitions boundary erases output partitioning, so a
      // per-round join would RESHUFFLE the whole multi-GB block relation
      // every superstep (measured: 10x slowdown). One extra build-time
      // exchange re-establishes HashPartitioning(pid) on the cached
      // relation; the bundle side of every scan arrives with the same
      // partitioning and the blocks never move again.
      .repartition(p, col("pid"))
  }

  /** Salt, build, cache and materialize the blocks of an edge view. The
    * salt table and the blocks each read the view, so a view that does
    * not read stored rows already (e.g. `und`'s union + distinct) is
    * cached for the pack and released once the blocks hold its rows. */
  def pack(edges: DataFrame, p: Int): CsrGraph = {
    val own = SimpleGraph.storedLeaf(edges).isEmpty
    if (own) edges.persist()
    try {
      val salts = hubSalts(edges, saltThreshold, p)
      val b = build(edges, p, salts).persist()
      b.count()
      CsrGraph(b, salts)
    } finally if (own) edges.unpersist()
  }

  /** A state row inside a bundle: the value rides in `lv` for the long
    * combines and in `dv` for the double ones. */
  final case class VertexValue(vid: Long, lv: Long, dv: Double)

  /** One block's contribution to one dst (and label). */
  final case class Partial(vid: Long, label: Long, lv: Long, dv: Double,
      lvs: Array[Long])

  /** The CsrGather tier of [[superstep]]: the combine of a (vid, value)
    * state over the blocks, with the output of [[Combine]]. Shuffles per
    * call: one groupBy(pid) of the (small) vertex state and one
    * groupBy(vid[, label]) of per-block partials — the edges stay put. */
  def scan(csr: CsrGraph, c: Combine, state: DataFrame, p: Int)
      : DataFrame = {
    val spark = csr.blocks.sparkSession
    import spark.implicits._
    val value = col("value").cast(c.valueType)
    val st =
      if (c.valueType == "double")
        state.select(col("vid"), lit(0L).as("lv"), value.as("dv"))
      else state.select(col("vid"), value.as("lv"), lit(0.0).as("dv"))
    val (keys, partial) = c match {
      case Sum => (Seq("vid"), sum(col("dv")))
      case Min => (Seq("vid"), min(col("lv")))
      case MinPlus => (Seq("vid"), min(col("dv")))
      case Collect => (Seq("vid"), flatten(collect_list(col("lvs"))))
      case LabelCount => (Seq("vid", "label"), sum(col("dv")).cast("long"))
      case LabelSum => (Seq("vid", "label"), sum(col("dv")))
    }
    csr.blocks.toDF()
      .join(bundleState(st, p, csr.salts), "pid")
      .as[(Int, Array[Long], Array[Int], Array[Int], Array[Long],
        Array[Double], Array[VertexValue])]
      .mapPartitions(_.flatMap { case (pid, srcs, offs, idx, uniq, ws, vals) =>
        walk(c, EdgeBlock(pid, srcs, offs, idx, uniq, ws), vals)
      })
      .groupBy(keys.map(col): _*).agg(partial.as("msg"))
  }

  private val byVid: java.util.Comparator[VertexValue] =
    (a: VertexValue, b: VertexValue) => java.lang.Long.compare(a.vid, b.vid)

  /** The merge-join walk shared by every combine: the bundle, sorted by
    * vid, against the block's sorted srcIds. For each matched src the
    * combine is dispatched once; its loop then runs over the src's
    * adjacency on primitive arrays. A run of duplicate state vids acts as
    * the join does: Sum adds the run, Min and MinPlus take its minimum
    * (the same result per edge), Collect and the label combines visit the
    * adjacency once per row. Label sums and counts share a Double
    * accumulator (exact to 2^53 — far past any per-dst degree). */
  private def walk(c: Combine, b: EdgeBlock, vals: Array[VertexValue])
      : Iterator[Partial] = {
    val srcs = b.srcIds
    val offs = b.dstOffsets
    val idx = b.dstIndex
    val uniq = b.dstUnique
    val ws = b.weights
    require(!c.weighted || ws.length == idx.length,
      s"$c needs blocks built from a weighted edge view")
    java.util.Arrays.sort(vals, byVid)
    val n = uniq.length
    val touched = new Array[Boolean](n)
    val dacc = if (c == Sum || c == MinPlus) new Array[Double](n) else null
    val lacc = if (c == Min) new Array[Long](n) else null
    val lists =
      if (c == Collect) new Array[mutable.ArrayBuilder.ofLong](n) else null
    val labels =
      if (c.byLabel) new Array[mutable.LongMap[Double]](n) else null
    var si = 0
    var vi = 0
    while (si < srcs.length && vi < vals.length) {
      val s = srcs(si)
      val v = vals(vi).vid
      if (s < v) si += 1
      else if (s > v) vi += 1
      else {
        var end = vi + 1
        while (end < vals.length && vals(end).vid == s) end += 1
        val from = offs(si)
        val to = offs(si + 1)
        c match {
          case Sum =>
            var x = 0.0
            var r = vi
            while (r < end) { x += vals(r).dv; r += 1 }
            var j = from
            while (j < to) {
              val k = idx(j)
              dacc(k) += x; touched(k) = true
              j += 1
            }
          case Min =>
            var x = vals(vi).lv
            var r = vi + 1
            while (r < end) { if (vals(r).lv < x) x = vals(r).lv; r += 1 }
            var j = from
            while (j < to) {
              val k = idx(j)
              if (!touched(k) || x < lacc(k)) { lacc(k) = x; touched(k) = true }
              j += 1
            }
          case MinPlus =>
            var x = vals(vi).dv
            var r = vi + 1
            while (r < end) { if (vals(r).dv < x) x = vals(r).dv; r += 1 }
            var j = from
            while (j < to) {
              val k = idx(j)
              val cand = x + ws(j)
              if (!touched(k) || cand < dacc(k)) {
                dacc(k) = cand; touched(k) = true
              }
              j += 1
            }
          case Collect =>
            var r = vi
            while (r < end) {
              val x = vals(r).lv
              var j = from
              while (j < to) {
                val k = idx(j)
                if (lists(k) == null) {
                  lists(k) = new mutable.ArrayBuilder.ofLong; touched(k) = true
                }
                lists(k) += x
                j += 1
              }
              r += 1
            }
          case LabelCount | LabelSum =>
            val weighted = c.weighted
            var r = vi
            while (r < end) {
              val label = vals(r).lv
              var j = from
              while (j < to) {
                val k = idx(j)
                if (labels(k) == null) {
                  labels(k) = mutable.LongMap.empty[Double]; touched(k) = true
                }
                val m = labels(k)
                m.update(label,
                  m.getOrElse(label, 0.0) + (if (weighted) ws(j) else 1.0))
                j += 1
              }
              r += 1
            }
        }
        vi = end
        si += 1
      }
    }
    // One partial per touched dst (per dst label for the label combines);
    // scan's groupBy merges them across blocks.
    val out = mutable.ArrayBuffer[Partial]()
    var k = 0
    while (k < n) {
      if (touched(k)) c match {
        case Sum | MinPlus => out += Partial(uniq(k), 0L, 0L, dacc(k), null)
        case Min => out += Partial(uniq(k), 0L, lacc(k), 0.0, null)
        case Collect => out += Partial(uniq(k), 0L, 0L, 0.0, lists(k).result())
        case LabelCount | LabelSum =>
          labels(k).foreach { case (l, w) =>
            out += Partial(uniq(k), l, 0L, w, null) }
      }
      k += 1
    }
    out.iterator
  }
}
