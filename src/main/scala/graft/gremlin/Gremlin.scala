package graft.gremlin

import graft.graph.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gremlin-subset text front-end: parses a traversal string and compiles
  * it onto the engine's DataFrame operator surface — the analogue of the
  * reference's frontend compiler, which parses Gremlin to a TreeNode
  * chain and lowers it to dataflow operators
  * (interactive_engine/src/frontend/compiler/.../tree/, e.g.
  * GraphTraversalTreeBuilder + 84 TreeNode classes;
  * optimize/LogicalPlanOptimizer.java:53-69). Here the lowering target
  * is declarative DataFrame plans, so the optimizer half of that
  * pipeline IS Catalyst: every step below becomes joins / filters /
  * aggregations with no UDFs, no collects and no per-traverser driver
  * loops — the compiled plan is the same shape a hand-written
  * combinator query produces, and scales the same way.
  *
  * Supported surface (the steps the reference's own test traversals use,
  * §2.4 operator inventory):
  *   g.V() | g.V(id, ...) — start from all / specific vertices
  *   hasLabel('l')        — label filter
  *   has('p', lit)        — property equality
  *   has('p', P)          — P = eq/neq/gt/gte/lt/lte/within/without
  *   has('l', 'p', P)     — label + property filter in one step
  *   hasNot('p')          — property-absent filter
  *   out/in/both('e'?)    — adjacency hop (optional edge-label filter)
  *   outE/inE('e'?) ... inV()/outV() — step onto incident edges (rows
  *                        keyed per (srcL,eL,dstL) relation), filter on
  *                        edge properties with has/hasNot, project with
  *                        values/count/dedup, then land on the head
  *                        (inV) or tail (outV) vertex frame
  *   repeat(<sub>).times(k) — k-fold unrolled sub-traversal
  *   where(<sub>) / not(<sub>) — existence filter: keep traversers whose
  *                        sub-traversal yields >=1 (resp. 0) results —
  *                        compiled to LEFT SEMI / LEFT ANTI joins on a
  *                        narrow distinct root relation, never
  *                        materializing the sub-traversal bag per path
  *   union(<sub>, ...)    — bag union of per-branch sub-traversals
  *   as('x') ... select('x' [, 'y', ...]) — step labeling: as() stamps
  *                        the current vertex id as a tag column that
  *                        hops thread through; select() projects the
  *                        tagged ids (one column per label), the
  *                        Spark-native form of Gremlin's path
  *                        projection. With tags live, dedup() collapses
  *                        distinct (vertex, tags) projections.
  *   dedup()              — per-position traverser dedup
  *   id()                 — project vertex ids
  *   values('p', ...)     — project one or more properties
  *   count()              — global count
  *   groupCount().by('p') — value histogram
  *   group().by('k').by(count()|sum/min/max/mean('p')) — keyed aggregate
  *   sum/min/max/mean('p') — global numeric aggregate
  *   order().by('p' [, asc|desc]).by(...)  — deterministic sort
  *   limit(n) / range(a, b)                — ordered slice
  *
  * Traverser semantics are Gremlin's bag semantics: hops multiply rows
  * per path (no implicit dedup), `dedup()` collapses them. Traverser
  * state is kept PER VERTEX LABEL (a Map[label -> DataFrame] of the
  * label's typed property frame plus a path-multiplicity-preserving row
  * bag), mirroring the reference's label-partitioned fragments — a hop
  * fans out through every matching (srcLabel, edgeLabel, dstLabel)
  * relation, so multi-label traversals never pay a lowest-common-schema
  * union until a terminal step demands one.
  *
  * `limit`/`range` require a preceding `order()` — an unordered slice is
  * nondeterministic on a distributed bag, and the reference's own
  * range() carries the same caveat; we make it a parse-time error
  * instead of a silent nondeterminism.
  */
object Gremlin {

  // ---------- AST ----------

  sealed trait Arg
  final case class SArg(v: String) extends Arg
  final case class LArg(v: Long) extends Arg
  final case class DArg(v: Double) extends Arg
  final case class IdentArg(v: String) extends Arg // asc / desc
  final case class PredArg(op: String, args: Seq[Arg]) extends Arg
  final case class StepsArg(steps: Seq[Step]) extends Arg // repeat(...)

  final case class Step(name: String, args: Seq[Arg])

  final case class ParseException(msg: String)
    extends IllegalArgumentException(msg)

  // ---------- tokenizer ----------

  private sealed trait Tok
  private final case class TIdent(s: String) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TNum(s: String) extends Tok
  private final case class TPunct(c: Char) extends Tok

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val close = q.indexOf(c, i + 1)
        if (close < 0) throw ParseException(s"unterminated string at $i")
        out += TStr(q.substring(i + 1, close)); i = close + 1
      } else if (c.isDigit || (c == '-' && i + 1 < q.length
          && q(i + 1).isDigit)) {
        val j = q.indexWhere(
          ch => !(ch.isDigit || ch == '.' || ch == '-' || ch == 'e'
            || ch == 'E'), i)
        val end = if (j < 0) q.length else j
        out += TNum(q.substring(i, end)); i = end
      } else if (c.isLetter || c == '_') {
        val j = q.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) q.length else j
        out += TIdent(q.substring(i, end)); i = end
      } else if (c == '(' || c == ')' || c == '.' || c == ',') {
        out += TPunct(c); i += 1
      } else throw ParseException(s"unexpected character '$c' at $i")
    }
    out.result()
  }

  // ---------- parser (recursive descent) ----------

  private val predNames =
    Set("eq", "neq", "gt", "gte", "lt", "lte", "within", "without")

  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    def eof: Boolean = pos >= toks.length
    private def peek: Tok =
      if (eof) throw ParseException("unexpected end of traversal")
      else toks(pos)
    private def next(): Tok = { val t = peek; pos += 1; t }
    private def expect(c: Char): Unit = next() match {
      case TPunct(`c`) => ()
      case t => throw ParseException(s"expected '$c', got $t")
    }

    def traversal(): Seq[Step] = {
      next() match {
        case TIdent("g") => ()
        case t => throw ParseException(s"traversal must start with g, got $t")
      }
      val steps = Seq.newBuilder[Step]
      while (!eof) { expect('.'); steps += step() }
      steps.result()
    }

    /** An anonymous step chain (inside repeat(...)): out('x').in(). */
    def anonChain(): Seq[Step] = {
      val steps = Seq.newBuilder[Step]
      steps += step()
      while (!eof && peek == TPunct('.')
          && { pos += 1; true }) steps += step()
      steps.result()
    }

    private def step(): Step = next() match {
      case TIdent(name) =>
        expect('(')
        val args = Seq.newBuilder[Arg]
        if (peek != TPunct(')')) {
          args += arg()
          // has(key, pred): a call in the predicate slot is a predicate
          while (peek == TPunct(',')) {
            pos += 1; args += arg(predSlot = name == "has")
          }
        }
        expect(')')
        Step(name, args.result())
      case t => throw ParseException(s"expected step name, got $t")
    }

    private def arg(predSlot: Boolean = false): Arg = peek match {
      case TStr(s) => pos += 1; SArg(s)
      case TNum(s) =>
        pos += 1
        if (s.exists(ch => ch == '.' || ch == 'e' || ch == 'E'))
          DArg(s.toDouble)
        else LArg(s.toLong)
      case TIdent(name) if predNames(name) =>
        pos += 1; expect('(')
        val as = Seq.newBuilder[Arg]
        if (peek != TPunct(')')) {
          as += arg()
          while (peek == TPunct(',')) { pos += 1; as += arg() }
        }
        expect(')')
        PredArg(name, as.result())
      case TIdent(name)
          if predSlot && toks.lift(pos + 1).contains(TPunct('(')) =>
        throw ParseException(s"unknown predicate '$name' — expected one " +
          s"of ${predNames.toSeq.sorted.mkString(", ")}")
      case TIdent(name)
          if toks.lift(pos + 1).contains(TPunct('(')) =>
        // anonymous sub-traversal: out('x').in() inside repeat(...)
        StepsArg(anonChain())
      case TIdent(name) => pos += 1; IdentArg(name)
      case t => throw ParseException(s"unexpected argument token $t")
    }
  }

  def parse(query: String): Seq[Step] = {
    val steps = new P(tokenize(query)).traversal()
    if (steps.isEmpty) throw ParseException("empty traversal")
    steps
  }

  // ---------- compiler ----------

  /** Traverser bag, one property frame per live vertex label. Each frame
    * keeps the label's full property columns plus `vid`; row multiplicity
    * IS path multiplicity. */
  private final case class VState(frames: Map[String, DataFrame])

  private def litCol(a: Arg): Column = a match {
    case SArg(s) => lit(s)
    case LArg(v) => lit(v)
    case DArg(v) => lit(v)
    case other => throw ParseException(s"expected a literal, got $other")
  }

  private def predicate(c: Column, p: Arg): Column = p match {
    case PredArg("eq", Seq(v)) => c === litCol(v)
    case PredArg("neq", Seq(v)) => c =!= litCol(v)
    case PredArg("gt", Seq(v)) => c > litCol(v)
    case PredArg("gte", Seq(v)) => c >= litCol(v)
    case PredArg("lt", Seq(v)) => c < litCol(v)
    case PredArg("lte", Seq(v)) => c <= litCol(v)
    case PredArg("within", vs) if vs.nonEmpty => c.isin(vs.map {
      case SArg(s) => s: Any
      case LArg(v) => v: Any
      case DArg(v) => v: Any
      case o => throw ParseException(s"within() takes literals, got $o")
    }: _*)
    case PredArg("without", vs) if vs.nonEmpty =>
      !predicate(c, PredArg("within", vs))
    case lit0 @ (SArg(_) | LArg(_) | DArg(_)) => c === litCol(lit0)
    case other => throw ParseException(s"unsupported predicate $other")
  }

  /** Sub-traversal root markers (`__gr_`-prefixed) thread through hops
    * untouched so where()/not() can map survivors back to their source
    * traverser. */
  private def carried(f: DataFrame): Seq[Column] =
    f.columns.toSeq.filter(_.startsWith("__gr_")).map(col)

  /** One adjacency hop. Fans out through every (srcL, eL, dstL) edge
    * relation whose edge label matches (all of them when unspecified)
    * and whose srcL is live; lands on dstL's property frame. Plain
    * inner joins — Catalyst picks broadcast vs shuffle per side. */
  private def hop(g: PropertyGraph, st: VState, edgeLabel: Option[String],
      dir: String): VState = {
    val rels = g.edgeLabels.toSeq.filter { case ((_, e, _), _) =>
      edgeLabel.forall(_ == e)
    }
    if (rels.isEmpty && edgeLabel.isDefined)
      throw ParseException(s"unknown edge label '${edgeLabel.get}'")
    val ways: Seq[(String, String, DataFrame)] = {
      val fwd = rels.map { case ((s, _, d), e) => (s, d, e) }
      val rev = rels.map { case ((s, _, d), e) =>
        (d, s, e.select(col("dst").as("src"), col("src").as("dst"))) }
      dir match {
        case "out" => fwd
        case "in" => rev
        case "both" => fwd ++ rev
      }
    }
    def landFrom(from: String => Option[DataFrame]): Map[String, DataFrame] =
      ways.flatMap { case (fromL, toL, edges) =>
        from(fromL).map { f =>
          val hopped = f.select(col("vid").as("__from") +: carried(f): _*)
            .join(edges.select(col("src").as("__from"),
              col("dst").as("vid")), "__from")
            .drop("__from")
          toL -> hopped.join(g.vertexLabels(toL), Seq("vid"))
        }
      }.groupBy(_._1).map { case (l, fs) =>
        l -> fs.map(_._2).reduce(_.unionByName(_))
      }
    val landed = landFrom(st.frames.get)
    if (landed.nonEmpty || st.frames.isEmpty) VState(landed)
    else {
      // No live label has a matching relation: the hop reaches no vertex.
      // Land an empty frame on every label the hop could reach, so the
      // terminals answer count() = 0 and empty bags instead of failing.
      val none = st.frames.values.head.where(lit(false))
      VState(landFrom(_ => Some(none)))
    }
  }

  /** Lowest-common-schema union of the live label frames: (label, vid)
    * — the only cross-label materialization, paid at terminals only. */
  private def bag(st: VState): DataFrame = {
    require(st.frames.nonEmpty, "empty traverser state")
    st.frames.toSeq.sortBy(_._1).map { case (l, f) =>
      f.select(lit(l).as("label"), col("vid"))
    }.reduce(_.unionByName(_))
  }

  /** Frames that carry property `p`, projected to just that value. */
  private def valueBag(st: VState, p: String): DataFrame = {
    val have = st.frames.values.filter(_.columns.contains(p)).toSeq
    if (have.isEmpty)
      throw ParseException(s"no live vertex label has property '$p'")
    have.map(_.select(col(p))).reduce(_.unionByName(_))
  }

  private def orderKeys(bys: Seq[Step]): Seq[Column] =
    bys.map { by =>
      by.args match {
        case Seq(SArg(p)) => col(p).asc
        case Seq(SArg(p), IdentArg("asc")) => col(p).asc
        case Seq(SArg(p), IdentArg("desc")) => col(p).desc
        case other => throw ParseException(s"unsupported by($other)")
      }
    }

  /** has('p', pred) over the live frames. A label lacking the property
    * can never satisfy has(), so its frame is dropped; in strict mode
    * (top level) dropping every label is a parse-time error, in a
    * sub-traversal it just means the sub-traversal has no results. */
  private def applyHas(st: VState, args: Seq[Arg],
      strict: Boolean): VState = {
    val (p, pred) = args match {
      case Seq(SArg(p0), pr) => (p0, pr)
      case o => throw ParseException(s"unsupported has args $o")
    }
    val kept = VState(st.frames.filter(_._2.columns.contains(p))
      .map { case (l, f) => l -> f.where(predicate(col(p), pred)) })
    if (strict && kept.frames.isEmpty)
      throw ParseException(s"no live vertex label has property '$p'")
    kept
  }

  /** hasNot('p'): keep traversers WITHOUT the property — labels lacking
    * the column pass whole, labels carrying it keep null rows only. */
  private def applyHasNot(st: VState, args: Seq[Arg]): VState = {
    val p = args match {
      case Seq(SArg(p0)) => p0
      case o => throw ParseException(s"hasNot takes one property: $o")
    }
    VState(st.frames.map { case (l, f) =>
      l -> (if (f.columns.contains(p)) f.where(col(p).isNull) else f)
    })
  }

  /** Evaluate an anonymous step chain (the body of repeat()/where()/
    * not()/union()) against a traverser state. Unlike the top-level
    * loop this is TOLERANT: a filter that eliminates every label yields
    * an empty state (the sub-traversal simply has no results) instead
    * of an error — Gremlin's semantics for sub-traversals. Only the
    * non-terminal filter/hop surface is allowed here; a terminal step
    * inside a sub-traversal is a parse error. */
  private def evalChain(g: PropertyGraph, st0: VState, body: Seq[Step],
      depth: Int): VState = {
    var st = st0
    var i = 0
    while (i < body.length) {
      val s = body(i)
      s.name match {
        case "out" | "in" | "both" =>
          val el = s.args match {
            case Seq() => None
            case Seq(SArg(e)) => Some(e)
            case o => throw ParseException(s"unsupported hop args $o")
          }
          st = hop(g, st, el, s.name)
        case "hasLabel" =>
          val wanted = s.args.map {
            case SArg(l) => l
            case o => throw ParseException(s"hasLabel takes strings: $o")
          }.toSet
          st = VState(st.frames.view.filterKeys(wanted).toMap)
        case "has" => st = applyHas(st, s.args, strict = false)
        case "hasNot" => st = applyHasNot(st, s.args)
        case "dedup" =>
          st = VState(st.frames.map { case (l, f) => l -> f.distinct() })
        case "repeat" =>
          val inner = s.args match {
            case Seq(StepsArg(b)) => b
            case o => throw ParseException(s"repeat takes a traversal: $o")
          }
          body.lift(i + 1) match {
            case Some(Step("times", Seq(LArg(k)))) if k >= 1 =>
              (0 until k.toInt).foreach(_ =>
                st = evalChain(g, st, inner, depth))
              i += 1 // consume times()
            case _ => throw ParseException(
              "repeat(...) must be followed by times(k), k >= 1")
          }
        case "where" | "not" =>
          val inner = s.args match {
            case Seq(StepsArg(b)) => b
            case o => throw ParseException(s"${s.name} takes a traversal: $o")
          }
          st = existFilter(g, st, s.name == "not", inner, depth + 1)
        case o =>
          throw ParseException(s"unsupported step in a sub-traversal: $o")
      }
      i += 1
    }
    st
  }

  /** where(sub) / not(sub): keep traversers for which the sub-traversal
    * yields >=1 (resp. 0) results. Each live frame is stamped with a
    * depth-suffixed root marker that hops thread through untouched; the
    * survivors come back as ONE narrow distinct (rootLabel, rootVid)
    * relation and each frame is LEFT SEMI (where) / LEFT ANTI (not)
    * joined against its own label's slice of it — Spark's existence-join
    * operators, so the sub-traversal bag is never materialized per path
    * and Catalyst broadcasts the root relation when it is small.
    * Existence depends only on the traverser's CURRENT vertex, so the
    * join key is vid alone even under nesting. */
  private def existFilter(g: PropertyGraph, st: VState, negate: Boolean,
      body: Seq[Step], depth: Int): VState = {
    val rv = s"__gr_root_$depth"
    val rl = s"__gr_rootl_$depth"
    val rooted = VState(st.frames.map { case (l, f) =>
      l -> f.withColumn(rv, col("vid")).withColumn(rl, lit(l))
    })
    val end = evalChain(g, rooted, body, depth)
    if (end.frames.isEmpty) {
      // structurally empty sub-traversal: no traverser can ever match
      if (negate) st
      else VState(st.frames.map { case (l, f) => l -> f.where(lit(false)) })
    } else {
      val roots = end.frames.values.toSeq
        .map(_.select(col(rl), col(rv)))
        .reduce(_.unionByName(_)).distinct()
      val joinType = if (negate) "left_anti" else "left_semi"
      VState(st.frames.map { case (l, f) =>
        l -> f.join(
          roots.where(col(rl) === l).select(col(rv).as("vid")),
          Seq("vid"), joinType)
      })
    }
  }

  /** Compile + run. Returns a DataFrame whose schema depends on the
    * terminal step — see the object scaladoc. */
  def run(g: PropertyGraph, query: String): DataFrame = {
    val steps = parse(query)
    if (steps.head.name != "V")
      throw ParseException("traversal must start with g.V(...)")

    var st = VState(steps.head.args match {
      case Seq() => g.vertexLabels
      case ids =>
        val vids = ids.map { case LArg(v) => v
          case o => throw ParseException(s"V() takes long ids, got $o") }
        g.vertexLabels.map { case (l, f) =>
          l -> f.where(col("vid").isin(vids: _*))
        }
    })

    var out: DataFrame = null // set by a terminal step
    var sortCols: Seq[Column] = Nil // set by order(), used by limit/range
    // edge-mode traverser state (after outE/inE): one frame per
    // (srcLabel, edgeLabel, dstLabel) relation, rows = (src, dst,
    // ...edge props, markers); null while on vertices
    var est: Map[(String, String, String), DataFrame] = null

    def requireOpen(name: String): Unit =
      if (out != null) throw ParseException(
        s"step $name after a terminal step")

    def subTraversal(name: String, args: Seq[Arg]): Seq[Step] =
      args match {
        case Seq(StepsArg(inner)) => inner
        case o => throw ParseException(s"$name takes a traversal: $o")
      }

    /** inV()/outV(): land edge traversers on the head (dst) / tail (src)
      * vertex frame — Gremlin's absolute endpoint semantics. */
    def land(toHead: Boolean): Unit = {
      val parts = est.toSeq.map { case ((sL, _, dL), e) =>
        val (endCol, endL) = if (toHead) ("dst", dL) else ("src", sL)
        endL -> e.select(col(endCol).as("vid") +: carried(e): _*)
          .join(g.vertexLabels(endL), Seq("vid"))
      }
      st = VState(parts.groupBy(_._1).map { case (l, fs) =>
        l -> fs.map(_._2).reduce(_.unionByName(_))
      })
      est = null
    }

    var i = 1
    while (i < steps.length) {
      val s = steps(i)
      // collect trailing .by(...) modulators for this step
      val bys = steps.drop(i + 1).takeWhile(_.name == "by")
      if (est != null) s.name match { // ---- edge-mode steps ----
        case "has" =>
          requireOpen(s.name)
          val (p, pred) = s.args match {
            case Seq(SArg(p0), pr) => (p0, pr)
            case o => throw ParseException(s"unsupported has args $o")
          }
          est = est.filter(_._2.columns.contains(p)).map { case (k, e) =>
            k -> e.where(predicate(col(p), pred))
          }
          if (est.isEmpty) throw ParseException(
            s"no live edge relation has property '$p'")
        case "hasNot" =>
          requireOpen(s.name)
          val p = s.args match {
            case Seq(SArg(p0)) => p0
            case o => throw ParseException(s"hasNot takes one property: $o")
          }
          est = est.map { case (k, e) =>
            k -> (if (e.columns.contains(p)) e.where(col(p).isNull) else e)
          }
        case "dedup" =>
          requireOpen(s.name)
          est = est.map { case (k, e) => k -> e.distinct() }
        case "inV" => requireOpen(s.name); land(toHead = true)
        case "outV" => requireOpen(s.name); land(toHead = false)
        case "count" =>
          requireOpen(s.name)
          out = est.values.toSeq.map(_.select(lit(1).as("one")))
            .reduce(_.unionByName(_)).agg(count(lit(1)).as("cnt"))
        case "values" =>
          requireOpen(s.name)
          val ps = s.args.map {
            case SArg(p0) => p0
            case o => throw ParseException(s"values takes properties: $o")
          }
          if (ps.isEmpty)
            throw ParseException("values() needs at least one property")
          val have = est.toSeq.sortBy(_._1.toString).map(_._2)
            .filter(e => ps.forall(e.columns.contains))
          if (have.isEmpty) throw ParseException(
            s"no live edge relation has properties $ps")
          out = have.map(_.select(ps.map(col): _*))
            .reduce(_.unionByName(_))
        case o => throw ParseException(
          s"step $o is not supported on edge traversers " +
            "(use inV()/outV() to return to vertices)")
      }
      else s.name match {
        case "hasLabel" =>
          requireOpen(s.name)
          val wanted = s.args.map {
            case SArg(l) => l
            case o => throw ParseException(s"hasLabel takes strings: $o")
          }.toSet
          st = VState(st.frames.view.filterKeys(wanted).toMap)
          if (st.frames.isEmpty) throw ParseException(
            s"hasLabel(${wanted.mkString(",")}) matches no vertex label")
        case "has" =>
          requireOpen(s.name)
          s.args match {
            case Seq(SArg(l0), SArg(p0), pr) => // has('label','prop',P)
              if (!st.frames.contains(l0)) throw ParseException(
                s"hasLabel($l0) matches no vertex label")
              st = applyHas(
                VState(st.frames.view.filterKeys(Set(l0)).toMap),
                Seq(SArg(p0), pr), strict = true)
            case other => st = applyHas(st, other, strict = true)
          }
        case "hasNot" =>
          requireOpen(s.name); st = applyHasNot(st, s.args)
        case "out" | "in" | "both" =>
          requireOpen(s.name)
          val el = s.args match {
            case Seq() => None
            case Seq(SArg(e)) => Some(e)
            case o => throw ParseException(s"unsupported hop args $o")
          }
          st = hop(g, st, el, s.name)
        case "outE" | "inE" =>
          requireOpen(s.name)
          val el = s.args match {
            case Seq() => None
            case Seq(SArg(e)) => Some(e)
            case o => throw ParseException(s"unsupported hop args $o")
          }
          val rels = g.edgeLabels.toSeq.filter { case ((_, e, _), _) =>
            el.forall(_ == e)
          }
          if (rels.isEmpty && el.isDefined)
            throw ParseException(s"unknown edge label '${el.get}'")
          // step onto the incident edges: traverser rows become edge
          // rows (with the vertex's markers threaded through), keyed by
          // their full (srcL, eL, dstL) relation so edge-property
          // schemas never union across relations
          val anchorIsSrc = s.name == "outE"
          est = rels.flatMap { case (key @ (sL, _, dL), e) =>
            val anchorL = if (anchorIsSrc) sL else dL
            val keyCol = if (anchorIsSrc) "src" else "dst"
            st.frames.get(anchorL).map { f =>
              key -> f.select(col("vid").as("__from") +: carried(f): _*)
                .join(e.withColumn("__from", col(keyCol)), "__from")
                .drop("__from")
            }
          }.toMap
          if (est.isEmpty) throw ParseException(
            s"${s.name}(${el.getOrElse("")}) reaches no edge relation " +
              "from the live vertex labels")
        case "repeat" =>
          requireOpen(s.name)
          val body = subTraversal(s.name, s.args)
          val times = steps.lift(i + 1) match {
            case Some(Step("times", Seq(LArg(k)))) if k >= 1 => k.toInt
            case _ => throw ParseException(
              "repeat(...) must be followed by times(k), k >= 1")
          }
          (0 until times).foreach(_ => st = evalChain(g, st, body, 0))
          i += 1 // consume times()
        case "where" | "not" =>
          requireOpen(s.name)
          st = existFilter(g, st, s.name == "not",
            subTraversal(s.name, s.args), 1)
        case "union" =>
          requireOpen(s.name)
          if (s.args.isEmpty)
            throw ParseException("union() needs at least one branch")
          val branches = s.args.map {
            case StepsArg(inner) => inner
            case o => throw ParseException(s"union takes traversals: $o")
          }
          val merged = branches.map(b => evalChain(g, st, b, 0))
            .flatMap(_.frames.toSeq).groupBy(_._1).map { case (l, fs) =>
              l -> fs.map(_._2).reduce(_.unionByName(_))
            }
          if (merged.isEmpty) throw ParseException(
            "union(): every branch eliminated all vertex labels")
          st = VState(merged)
        case "dedup" =>
          requireOpen(s.name)
          st = VState(st.frames.map { case (l, f) => l -> f.distinct() })
        case "as" =>
          requireOpen(s.name)
          val n = s.args match {
            case Seq(SArg(n0)) => n0
            case o => throw ParseException(s"as takes one step label: $o")
          }
          st = VState(st.frames.map { case (l, f) =>
            l -> f.withColumn(s"__gr_as_$n", col("vid"))
          })
        case "select" =>
          requireOpen(s.name)
          val names = s.args.map {
            case SArg(n0) => n0
            case o => throw ParseException(s"select takes step labels: $o")
          }
          if (names.isEmpty)
            throw ParseException("select() needs at least one step label")
          names.foreach { n =>
            if (!st.frames.values.forall(_.columns.contains(s"__gr_as_$n")))
              throw ParseException(s"select('$n') has no upstream as('$n')")
          }
          out = st.frames.toSeq.sortBy(_._1).map { case (_, f) =>
            f.select(names.map(n => col(s"__gr_as_$n").as(n)): _*)
          }.reduce(_.unionByName(_))
        case "id" =>
          requireOpen(s.name)
          out = bag(st).select(col("vid"))
        case "values" =>
          requireOpen(s.name)
          val ps = s.args.map {
            case SArg(p0) => p0
            case o => throw ParseException(s"values takes properties: $o")
          }
          if (ps.isEmpty)
            throw ParseException("values() needs at least one property")
          val have = st.frames.toSeq.sortBy(_._1).map(_._2)
            .filter(f => ps.forall(f.columns.contains))
          if (have.isEmpty) throw ParseException(
            s"no live vertex label has propert" +
              s"${if (ps.size == 1) s"y '${ps.head}'" else s"ies $ps"}")
          out = have.map(_.select(ps.map(col): _*))
            .reduce(_.unionByName(_))
        case "count" =>
          requireOpen(s.name)
          out = bag(st).agg(count(lit(1)).as("cnt"))
        case "groupCount" =>
          requireOpen(s.name)
          val p = bys match {
            case Seq(Step("by", Seq(SArg(p0)))) => p0
            case _ => throw ParseException(
              "groupCount() needs exactly one .by('prop')")
          }
          out = valueBag(st, p).groupBy(col(p).as("k"))
            .agg(count(lit(1)).as("cnt"))
          i += 1 // consume by()
        case "group" =>
          requireOpen(s.name)
          val (k, aggName, aggArgs) = bys match {
            case Seq(Step("by", Seq(SArg(k0))),
                Step("by", Seq(StepsArg(Seq(Step(a, as0)))))) => (k0, a, as0)
            case _ => throw ParseException(
              "group() needs .by('key').by(count() | sum/min/max/mean('p'))")
          }
          val aggCol = (aggName, aggArgs) match {
            case ("count", Seq()) => count(lit(1))
            case ("sum", Seq(SArg(p))) => sum(col(p))
            case ("min", Seq(SArg(p))) => min(col(p))
            case ("max", Seq(SArg(p))) => max(col(p))
            case ("mean", Seq(SArg(p))) => avg(col(p))
            case o => throw ParseException(s"unsupported group aggregate $o")
          }
          val needed = k +: aggArgs.collect { case SArg(p) => p }
          val have = st.frames.toSeq.sortBy(_._1).map(_._2)
            .filter(f => needed.forall(f.columns.contains))
          if (have.isEmpty) throw ParseException(
            s"no live vertex label has properties $needed")
          out = have.map(_.select(needed.distinct.map(col): _*))
            .reduce(_.unionByName(_))
            .groupBy(col(k).as("k")).agg(aggCol.as("value"))
          i += 2 // consume both by()s
        case "sum" | "min" | "max" | "mean" =>
          requireOpen(s.name)
          val p = s.args match {
            case Seq(SArg(p0)) => p0
            case o => throw ParseException(s"${s.name} takes one prop: $o")
          }
          val v = valueBag(st, p)
          out = s.name match {
            case "sum" => v.agg(sum(col(p)).as("value"))
            case "min" => v.agg(min(col(p)).as("value"))
            case "max" => v.agg(max(col(p)).as("value"))
            case "mean" => v.agg(avg(col(p)).as("value"))
          }
        case "order" =>
          requireOpen(s.name)
          if (bys.isEmpty) throw ParseException(
            "order() needs at least one .by('prop' [, asc|desc])")
          // order is terminal-shaping: produce the widest common frame
          // (intersection of live labels' columns, markers excluded)
          // so by-keys resolve
          val common = st.frames.values
            .map(_.columns.filterNot(_.startsWith("__gr_")).toSet)
            .reduce(_ intersect _)
          val df = st.frames.toSeq.sortBy(_._1).map { case (l, f) =>
            f.select(lit(l).as("label") +:
              common.toSeq.sorted.map(col): _*)
          }.reduce(_.unionByName(_))
          sortCols = orderKeys(bys)
          out = df.orderBy(sortCols: _*)
          i += bys.length // consume the by()s
        case "limit" | "range" =>
          if (out == null || sortCols.isEmpty) throw ParseException(
            s"${s.name}() requires a preceding order() — an unordered " +
              "slice of a distributed bag is nondeterministic")
          val (a, b) = (s.name, s.args) match {
            case ("limit", Seq(LArg(n))) => (0L, n)
            case ("range", Seq(LArg(x), LArg(y))) if y >= x => (x, y)
            case o => throw ParseException(s"unsupported ${s.name} args $o")
          }
          // orderBy.limit is Spark's distributed TakeOrderedAndProject —
          // only b rows ever reach one place. A range offset re-ranks
          // just that b-row prefix (the sort keys may be non-unique, so
          // the window over the SAME keys keeps the slice deterministic
          // up to key ties, exactly Gremlin's contract), then re-sorts
          // the at most b survivors so range() keeps limit()'s order.
          out = out.limit(b.toInt)
          if (a > 0) {
            val w = org.apache.spark.sql.expressions.Window
              .orderBy(sortCols: _*)
            out = out.withColumn("__rn", row_number().over(w))
              .where(col("__rn") > a).drop("__rn")
              .orderBy(sortCols: _*)
          }
        case "by" =>
          throw ParseException("stray .by() — only order()/groupCount() " +
            "accept by modulators")
        case other => throw ParseException(s"unsupported step: $other")
      }
      i += 1
    }
    if (out == null) out = {
      if (est != null) // edge bag: one row per edge traverser
        est.toSeq.sortBy(_._1.toString).map { case ((_, eL, _), e) =>
          e.select(lit(eL).as("label"), col("src"), col("dst"))
        }.reduce(_.unionByName(_))
      else bag(st)
    }
    out
  }
}
