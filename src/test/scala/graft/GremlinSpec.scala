package graft

import graft.gremlin.Gremlin
import graft.graph.PropertyGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gremlin text front-end vs hand-written DataFrame combinators on the
  * TinkerPop "modern" graph (the 6-vertex fixture the reference's own
  * frontend tests traverse) — every supported step, bag semantics,
  * deterministic ordering, and the parse-time error contract. */
class GremlinSpec extends SparkSpec {

  /** The TinkerPop modern graph: person(vid,name,age),
    * software(vid,name,lang); knows person->person, created
    * person->software. */
  lazy val modern: PropertyGraph = {
    import spark.implicits._
    val person = Seq(
      (1L, "marko", 29L), (2L, "vadas", 27L),
      (4L, "josh", 32L), (6L, "peter", 35L))
      .toDF("vid", "name", "age")
    val software = Seq((3L, "lop", "java"), (5L, "ripple", "java"))
      .toDF("vid", "name", "lang")
    val knows = Seq((1L, 2L, 0.5), (1L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    val created = Seq((1L, 3L, 0.4), (4L, 5L, 1.0), (4L, 3L, 0.4),
      (6L, 3L, 0.2)).toDF("src", "dst", "weight")
    PropertyGraph(
      Map("person" -> person, "software" -> software),
      Map(("person", "knows", "person") -> knows,
        ("person", "created", "software") -> created))
  }

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  def sameAs(q: String, want: DataFrame): Unit =
    assert(rows(Gremlin.run(modern, q)) == rows(want),
      s"traversal: $q")

  test("V().count() counts every label") {
    assert(Gremlin.run(modern, "g.V().count()").head().getLong(0) == 6L)
  }

  test("a hop that reaches no vertex yields empty results, not an error") {
    // software has no outgoing 'created' edge, person no incoming one
    for (q <- Seq("g.V().hasLabel('software').out('created')",
        "g.V().hasLabel('person').in('created')")) {
      assert(Gremlin.run(modern, s"$q.count()").head().getLong(0) == 0L, q)
      assert(Gremlin.run(modern, s"$q.values('name')").count() == 0L, q)
      assert(Gremlin.run(modern, s"$q.order().by('name')").count() == 0L, q)
      assert(Gremlin.run(modern, q).count() == 0L, q)
    }
  }

  test("V(ids) starts from the given vertices across labels") {
    assert(Gremlin.run(modern, "g.V(1, 3).count()").head()
      .getLong(0) == 2L)
  }

  test("hasLabel + has(gt) + values == where + select") {
    import spark.implicits._
    sameAs("g.V().hasLabel('person').has('age', gt(29)).values('name')",
      Seq("josh", "peter").toDF("name"))
  }

  test("has with bare literal is equality") {
    import spark.implicits._
    sameAs("g.V().has('lang', 'java').values('name')",
      Seq("lop", "ripple").toDF("name"))
  }

  test("within / without / neq / lte predicates") {
    import spark.implicits._
    sameAs("g.V().has('name', within('marko', 'lop')).id()",
      Seq(1L, 3L).toDF("vid"))
    sameAs("g.V().hasLabel('person').has('name', without('marko')).id()",
      Seq(2L, 4L, 6L).toDF("vid"))
    sameAs("g.V().has('age', neq(29)).values('age')",
      Seq(27L, 32L, 35L).toDF("age"))
    sameAs("g.V().has('age', lte(29)).values('age')",
      Seq(27L, 29L).toDF("age"))
  }

  test("has() drops labels lacking the property (software has no age)") {
    // all four persons match age >= 0; software vertices must vanish
    assert(Gremlin.run(modern, "g.V().has('age', gte(0)).count()")
      .head().getLong(0) == 4L)
  }

  test("out with label, bag semantics: josh+marko+peter created 4 " +
      "software USES, lop reached 3x") {
    import spark.implicits._
    sameAs("g.V().out('created').id()",
      Seq(3L, 5L, 3L, 3L).toDF("vid")) // bag: lop kept once per creator
    sameAs("g.V().out('created').dedup().id()",
      Seq(3L, 5L).toDF("vid"))
  }

  test("unlabeled out() fans through every edge relation") {
    assert(Gremlin.run(modern, "g.V(1).out().count()").head()
      .getLong(0) == 3L) // vadas, josh, lop
  }

  test("in() reverses, both() unions") {
    import spark.implicits._
    sameAs("g.V().hasLabel('software').in('created').dedup().values('name')",
      Seq("marko", "josh", "peter").toDF("name"))
    assert(Gremlin.run(modern, "g.V(1).both('knows').count()").head()
      .getLong(0) == 2L)
    // both on vadas: only the reverse knows edge
    sameAs("g.V(2).both('knows').values('name')",
      Seq("marko").toDF("name"))
  }

  test("repeat(out('knows')).times(2) == the unrolled two-hop") {
    // marko->josh is the only knows edge with onward... josh knows
    // nobody, so 2-hop knows is empty; build a longer chain instead
    assert(Gremlin.run(modern,
      "g.V().repeat(out('knows')).times(2).count()")
      .head().getLong(0) == 0L)
    assert(Gremlin.run(modern,
      "g.V().repeat(out()).times(2).count()").head().getLong(0) ==
      Gremlin.run(modern, "g.V().out().out().count()").head().getLong(0))
  }

  test("groupCount().by('lang') histogram") {
    import spark.implicits._
    sameAs("g.V().out('created').groupCount().by('lang')",
      Seq(("java", 4L)).toDF("k", "cnt"))
  }

  test("group().by(key).by(aggregate) keyed aggregation") {
    import spark.implicits._
    sameAs("g.V().group().by('lang').by(count())",
      Seq(("java", 2L)).toDF("k", "value"))
    sameAs("g.V().out('created').group().by('lang').by(count())",
      Seq(("java", 4L)).toDF("k", "value"))
    sameAs("g.V().hasLabel('person').group().by('name').by(max('age'))",
      Seq(("marko", 29L), ("vadas", 27L), ("josh", 32L), ("peter", 35L))
        .toDF("k", "value"))
    val e = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().group().by('lang')"))
    assert(e.getMessage.contains("group() needs"))
  }

  test("values with several properties projects them together") {
    import spark.implicits._
    sameAs("g.V().hasLabel('software').values('name', 'lang')",
      Seq(("lop", "java"), ("ripple", "java")).toDF("name", "lang"))
    // only labels carrying ALL requested properties contribute
    sameAs("g.V().values('name', 'age')",
      Seq(("marko", 29L), ("vadas", 27L), ("josh", 32L), ("peter", 35L))
        .toDF("name", "age"))
  }

  test("sum / mean / min / max over a property") {
    assert(Gremlin.run(modern, "g.V().sum('age')").head()
      .getLong(0) == 123L)
    assert(Gremlin.run(modern, "g.V().max('age')").head()
      .getLong(0) == 35L)
    assert(math.abs(Gremlin.run(modern, "g.V().mean('age')").head()
      .getDouble(0) - 30.75) < 1e-12)
  }

  test("order().by(desc).limit and range slice deterministically") {
    val top2 = Gremlin.run(modern,
      "g.V().hasLabel('person').order().by('age', desc).limit(2)")
    assert(top2.select("name").collect().map(_.getString(0)).toSeq
      == Seq("peter", "josh"))
    val mid = Gremlin.run(modern,
      "g.V().hasLabel('person').order().by('age', desc).range(1, 3)")
    assert(mid.select("name").collect().map(_.getString(0)).toSeq
      == Seq("josh", "marko"))
    val tail = Gremlin.run(modern, "g.V().order().by('name').range(2, 5)")
    assert(tail.select("name").collect().map(_.getString(0)).toSeq
      == Seq("marko", "peter", "ripple"))
  }

  test("order on a multi-label bag uses the common columns only") {
    val df = Gremlin.run(modern, "g.V().order().by('name').limit(6)")
    assert(df.columns.toSeq == Seq("label", "name", "vid"))
    assert(df.select("name").head().getString(0) == "josh")
  }

  test("where(sub) keeps traversers with >=1 sub-result (LEFT SEMI)") {
    import spark.implicits._
    // creators: marko, josh, peter
    sameAs("g.V().where(out('created')).id()",
      Seq(1L, 4L, 6L).toDF("vid"))
    // persons who know someone over 30: marko (knows josh, 32)
    sameAs("g.V().hasLabel('person').where(out('knows')" +
      ".has('age', gt(30))).values('name')",
      Seq("marko").toDF("name"))
  }

  test("not(sub) keeps traversers with 0 sub-results (LEFT ANTI)") {
    import spark.implicits._
    sameAs("g.V().not(out('created')).id()",
      Seq(2L, 3L, 5L).toDF("vid"))
    // nested: where(not(out())) == not(out()) — sinks only
    sameAs("g.V().where(not(out())).id()",
      Seq(2L, 3L, 5L).toDF("vid"))
  }

  test("where/not preserve bag multiplicity of the filtered traversers") {
    // out('created') bag is [3,5,3,3]; keep only those with an in-edge
    // from a person over 30 -> every created software qualifies (josh 32,
    // peter 35 created; lop also by marko 29): all 4 traversers survive
    assert(Gremlin.run(modern,
      "g.V().out('created').where(in('created').has('age', gt(30)))" +
        ".count()").head().getLong(0) == 4L)
    // ripple's only creator is josh(32); lop has marko(29) too — require
    // NO creator under 30: ripple only, reached once
    assert(Gremlin.run(modern,
      "g.V().out('created').not(in('created').has('age', lt(30)))" +
        ".count()").head().getLong(0) == 1L)
  }

  test("hasNot keeps labels lacking the property") {
    import spark.implicits._
    sameAs("g.V().hasNot('age').id()", Seq(3L, 5L).toDF("vid"))
    sameAs("g.V().hasNot('lang').hasNot('age').id()",
      spark.emptyDataset[Long].toDF("vid"))
  }

  test("has('label','prop',P) three-arg form") {
    import spark.implicits._
    sameAs("g.V().has('person', 'age', gt(30)).values('name')",
      Seq("josh", "peter").toDF("name"))
    val e = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().has('robot', 'age', gt(1)).count()"))
    assert(e.getMessage.contains("matches no vertex label"))
  }

  test("union of branches is a bag union from the same state") {
    import spark.implicits._
    sameAs("g.V(1).union(out('knows'), out('created')).id()",
      Seq(2L, 4L, 3L).toDF("vid"))
    // duplicates preserved across branches
    assert(Gremlin.run(modern, "g.V(1).union(out(), out('knows')).count()")
      .head().getLong(0) == 5L)
  }

  test("repeat body now takes filters, not just hops") {
    // one hop then keep persons only (out() reaches vadas, josh + 4
    // software; the has() keeps the 2 persons)
    assert(Gremlin.run(modern,
      "g.V().repeat(out().has('age', gte(0))).times(1).count()")
      .head().getLong(0) == 2L)
  }

  test("as/select: tags thread through hops and project tagged ids") {
    import spark.implicits._
    // who created what: creator ids, bag semantics
    sameAs("g.V().as('a').out('created').select('a')",
      Seq(1L, 4L, 4L, 6L).toDF("a"))
    // (creator, known) pairs
    assert(rows(Gremlin.run(modern,
      "g.V().as('a').out('knows').as('b').select('a', 'b')"))
      == Seq(Seq(1L, 2L), Seq(1L, 4L)))
    // tags survive an existence filter: persons who know someone
    sameAs("g.V().as('a').where(out('knows')).select('a')",
      Seq(1L).toDF("a"))
    val e = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().select('z')"))
    assert(e.getMessage.contains("no upstream as"))
    // order() after as() never leaks marker columns
    val df = Gremlin.run(modern,
      "g.V().as('a').order().by('name').limit(2)")
    assert(df.columns.forall(!_.startsWith("__gr_")), df.columns.toSeq)
  }

  test("outE/inE: edge-property filters, projections, inV/outV landing") {
    import spark.implicits._
    sameAs("g.V().outE('knows').values('weight')",
      Seq(0.5, 1.0).toDF("weight"))
    // strong created edges -> head vertices (bag: lop twice via 0.4s? no
    // — gte(0.4) keeps (1,3,.4),(4,5,1.0),(4,3,.4))
    sameAs("g.V().outE('created').has('weight', gte(0.4)).inV().id()",
      Seq(3L, 5L, 3L).toDF("vid"))
    // weak created edges seen from the head side -> tail creators
    sameAs("g.V().inE('created').has('weight', lt(0.5)).outV()" +
      ".values('name')",
      Seq("marko", "josh", "peter").toDF("name"))
    assert(Gremlin.run(modern, "g.V(1).outE().count()").head()
      .getLong(0) == 3L)
    // as-tags thread through the edge position
    sameAs("g.V().as('a').outE('knows').has('weight', gt(0.6)).inV()" +
      ".select('a')", Seq(1L).toDF("a"))
    // no terminal: the edge bag itself
    val bag = Gremlin.run(modern, "g.V().outE('knows')")
    assert(bag.columns.toSeq == Seq("label", "src", "dst"))
    assert(bag.count() == 2L)
    // vertex steps are rejected on edge traversers
    val e = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().outE().out()"))
    assert(e.getMessage.contains("edge traversers"))
    val e2 = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().outE().has('mass', gt(1)).count()"))
    assert(e2.getMessage.contains("no live edge relation"))
  }

  test("where/not compile to semi/anti joins, no cartesian, no UDFs") {
    val plan = Gremlin.run(modern,
      "g.V().where(out('created')).not(out('knows')).id()")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Cartesian"), plan)
  }

  test("sub-traversal errors: terminals rejected, empty union rejected") {
    def bad(q: String): String =
      intercept[Gremlin.ParseException](
        Gremlin.run(modern, q).collect()).getMessage
    assert(bad("g.V().where(count())").contains("sub-traversal"))
    assert(bad("g.V().union()").contains("at least one branch"))
    // structurally empty sub-traversal: where -> nothing, not -> all
    assert(Gremlin.run(modern, "g.V().where(hasLabel('robot')).count()")
      .head().getLong(0) == 0L)
    assert(Gremlin.run(modern, "g.V().not(hasLabel('robot')).count()")
      .head().getLong(0) == 6L)
  }

  test("parse errors: the documented contract") {
    def bad(q: String): String =
      intercept[Gremlin.ParseException](
        Gremlin.run(modern, q).collect()).getMessage
    assert(bad("g.V().limit(3)").contains("order()"))
    assert(bad("g.V().hasLabel('person').order().by('age').range(3, 1)")
      .contains("range"))
    assert(bad("g.V().frobnicate()").contains("unsupported step"))
    assert(bad("g.V().by('x')").contains("stray"))
    assert(bad("g.V().repeat(out()).count()").contains("times"))
    assert(bad("g.V().hasLabel('robot').count()")
      .contains("matches no vertex label"))
    assert(bad("g.V().has('mass', gt(1)).count()")
      .contains("no live vertex label"))
    assert(bad("g.V().has('age', gt2(30)).count()")
      .contains("unknown predicate 'gt2'"))
    assert(bad("g.V().out('likes').count()")
      .contains("unknown edge label"))
    assert(bad("g.X().count()").contains("g.V("))
    assert(bad("x.V()").contains("start with g"))
    assert(bad("g.V().values('name'").contains("end of traversal"))
    assert(intercept[Gremlin.ParseException](
      Gremlin.parse("g.V().has('x ")).getMessage
      .contains("unterminated"))
  }

  test("steps after a terminal step are rejected") {
    val e = intercept[Gremlin.ParseException](
      Gremlin.run(modern, "g.V().count().out()"))
    assert(e.getMessage.contains("after a terminal step"))
  }

  test("compiled plan is pure DataFrame ops: no UDFs, no cartesian") {
    val plan = Gremlin.run(modern,
      "g.V().hasLabel('person').has('age', gt(28)).out('created')" +
        ".groupCount().by('lang')")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Cartesian"), plan)
  }

  test("catalog queries run against the testdata tables") {
    val dir = "/root/testdata/sf0.001"
    val top = Queries.iGremlin(spark, dir)
    assert(top.columns.toSeq == Seq("label", "o_totalprice", "vid"))
    val n = top.count()
    assert(n > 0 && n <= 25, s"got $n rows")
    val cnt = Queries.iGremlinRepeat(spark, dir).head().getLong(0)
    // 2-hop path count == edges joined on the middle vertex
    import graft.graphbuild.CoPurchase
    val e = CoPurchase.graph(spark, dir).edges
    val want = e.select(col("src").as("a"), col("dst").as("m"))
      .join(e.select(col("src").as("m"), col("dst").as("b")), "m")
      .count()
    assert(cnt == want, s"gremlin $cnt vs join $want")
  }
}
