package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Bgp
import graft.ops.Bgp.{C, Pattern, V}
import graft.kg.Model

/** BGP compiler: parsing, constant pushdown, greedy join order (no
  * cartesian on connected patterns, loud failure on disconnected ones),
  * repeated-variable filters, and result equivalence against a
  * hand-composed DataFrame plan over the same triples.
  */
class BgpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val triples = Seq(
    // two interaction records with source/target samples + organisms
    ("R1", Model.RDF_TYPE, Model.EMI + "Interaction"),
    ("R1", Model.EMI + "hasSource", "S1"),
    ("R1", Model.EMI + "hasTarget", "S2"),
    ("R2", Model.RDF_TYPE, Model.EMI + "Interaction"),
    ("R2", Model.EMI + "hasSource", "S3"),
    ("R2", Model.EMI + "hasTarget", "S1"),
    ("S1", Model.SOSA + "isSampleOf", "O1"),
    ("S2", Model.SOSA + "isSampleOf", "O2"),
    ("S3", Model.SOSA + "isSampleOf", "O2"),
    ("S1", Model.RDFS_LABEL, "alpha"),
    ("S2", Model.RDFS_LABEL, "beta"),
    // a self-loop-ish row for the repeated-variable test
    ("X", "p:same", "X"),
    ("X", "p:same", "Y")).toDF("subj", "pred", "obj")

  test("parse: vars, prefixed names, <iri>, literal, and 'a' shorthand") {
    val pats = Bgp.parse(
      """?r a emi:Interaction . ?r emi:hasSource ?s . ?s rdfs:label "alpha"""")
    assert(pats === Seq(
      Pattern(V("r"), C(Model.RDF_TYPE), C(Model.EMI + "Interaction")),
      Pattern(V("r"), C(Model.EMI + "hasSource"), V("s")),
      Pattern(V("s"), C(Model.RDFS_LABEL), C("alpha"))))
    val full = Bgp.parse("?x <http://ex/p> ?y")
    assert(full === Seq(Pattern(V("x"), C("http://ex/p"), V("y"))))
    assertThrows[IllegalArgumentException](Bgp.parse("?x unknowable ?y"))
    assertThrows[IllegalArgumentException](Bgp.parse("?x nopfx:p ?y"))
  }

  test("star + chain BGP matches the hand-composed join plan") {
    val got = Bgp.query(triples,
      """?r a emi:Interaction . ?r emi:hasSource ?ss . ?r emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg . ?ts sosa:isSampleOf ?torg""",
      Seq("r", "sorg", "torg"))
    val so = triples.filter(col("pred") === Model.SOSA + "isSampleOf")
    val expected = triples
      .filter(col("pred") === Model.RDF_TYPE &&
        col("obj") === Model.EMI + "Interaction")
      .select(col("subj").as("r"))
      .join(triples.filter(col("pred") === Model.EMI + "hasSource")
        .select(col("subj").as("r"), col("obj").as("ss")), Seq("r"))
      .join(triples.filter(col("pred") === Model.EMI + "hasTarget")
        .select(col("subj").as("r"), col("obj").as("ts")), Seq("r"))
      .join(so.select(col("subj").as("ss"), col("obj").as("sorg")), Seq("ss"))
      .join(so.select(col("subj").as("ts"), col("obj").as("torg")), Seq("ts"))
      .select(col("r"), col("sorg"), col("torg"))
    assert(got.collect().toSet === expected.collect().toSet)
    assert(got.count() === 2)
  }

  test("constant-object anchor binds and filters") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?s . ?s rdfs:label "alpha"""", Seq("r"))
      .as[String].collect().sorted
    assert(got === Array("R1"))
  }

  test("bag semantics: no implicit distinct") {
    // S1 is source of R1 and target of R2 → O1 appears once per record
    val got = Bgp.query(triples,
      "?r emi:hasSource ?s . ?s sosa:isSampleOf ?o", Seq("o"))
      .as[String].collect().sorted
    assert(got === Array("O1", "O2"))
  }

  test("repeated variable within a pattern compiles to an equality filter") {
    val got = Bgp.query(triples, "?x <p:same> ?x", Seq("x"))
      .as[String].collect()
    assert(got === Array("X"))
  }

  test("connected BGP never plans a cartesian; disconnected refuses") {
    val df = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?ss sosa:isSampleOf ?sorg .
         ?r emi:hasTarget ?ts . ?ts sosa:isSampleOf ?torg""",
      Seq("sorg", "torg"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, "?a emi:hasSource ?b . ?c emi:hasTarget ?d",
        Seq("a", "c"))
    }
    assert(ex.getMessage.contains("disconnected"))
  }

  test("property path '+' closes transitively and joins with plain patterns") {
    val hier = Seq(
      ("a", "up", "b"), ("b", "up", "c"), ("c", "up", "d"),
      ("a", Model.RDFS_LABEL, "leaf-a"), ("b", Model.RDFS_LABEL, "leaf-b"))
      .toDF("subj", "pred", "obj")
    // all ancestors of nodes that carry a label
    val got = Bgp.query(hier, """?n <up>+ ?anc . ?n rdfs:label ?l""",
      Seq("n", "anc", "l"), plusRounds = 2)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("a", "b", "leaf-a"), ("a", "c", "leaf-a"), ("a", "d", "leaf-a"),
      ("b", "c", "leaf-b"), ("b", "d", "leaf-b")))
    // constant endpoint restricts the closure
    val desc = Bgp.query(hier, """?n <up>+ "d"""", Seq("n"), plusRounds = 2)
      .as[String].collect().sorted
    assert(desc === Array("a", "b", "c"))
    // '+' parses only in predicate position, on a constant
    assert(Bgp.parse("?x <up>+ ?y") ===
      Seq(Pattern(V("x"), Bgp.Plus("up"), V("y"))))
    assertThrows[IllegalArgumentException](
      Pattern(Bgp.Plus("up"), V("p"), V("y")))
  }

  test("OPTIONAL group left-joins; private vars are NULL on non-match") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?ss . OPTIONAL { ?ss rdfs:label ?l }""",
      Seq("r", "ss", "l"))
      .as[(String, String, Option[String])].collect().toSet
    assert(got === Set(
      ("R1", "S1", Some("alpha")),
      ("R2", "S3", None))) // S3 has no label → row survives with NULL
    // optional group must connect to the required part
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples,
        """?r emi:hasSource ?ss . OPTIONAL { ?x rdfs:label ?l }""",
        Seq("r"))
    }
    assert(ex.getMessage.contains("OPTIONAL"))
    // parseQuery splits blocks without disturbing required patterns
    val (req, opts, fs) = Bgp.parseQuery(
      """?a emi:hasSource ?b . OPTIONAL { ?b rdfs:label ?l } . ?a emi:hasTarget ?c""")
    assert(req.length === 2 && opts === Seq(Seq(
      Pattern(V("b"), C(Model.RDFS_LABEL), V("l")))) && fs.isEmpty)
  }

  test("FILTER: var-var inequality, string equality, regex, numeric compare") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?r emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg . ?ts sosa:isSampleOf ?torg .
         FILTER (?sorg != ?torg)""",
      Seq("r")).as[String].collect().sorted
    assert(got === Array("R1", "R2")) // both cross-organism here
    val same = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?ss sosa:isSampleOf ?sorg .
         FILTER (?sorg = "O1")""", Seq("r")).as[String].collect()
    assert(same === Array("R1"))
    val rx = Bgp.query(triples,
      """?ss rdfs:label ?l . FILTER regex(?l, "^al")""",
      Seq("l")).as[String].collect()
    assert(rx === Array("alpha"))
    // numeric FILTER casts both sides to double
    val num = Seq(("a", "score", "10"), ("b", "score", "9"))
      .toDF("subj", "pred", "obj")
    val hi = Bgp.query(num, """?s <score> ?v . FILTER (?v >= 10)""",
      Seq("s")).as[String].collect()
    assert(hi === Array("a")) // lexicographic "10" < "9" would say b
    // filters referencing unbound variables fail loudly
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, """?r emi:hasSource ?ss . FILTER (?zzz != ?ss)""",
        Seq("r"))
    }
    assert(ex.getMessage.contains("zzz"))
  }

  test("top-level split respects quotes, parens, and <iri> angles") {
    val pats = Bgp.parse("?x <http://ex.org/p.q> ?y . ?y <http://ex.org/r> ?z")
    assert(pats === Seq(
      Pattern(V("x"), C("http://ex.org/p.q"), V("y")),
      Pattern(V("y"), C("http://ex.org/r"), V("z"))))
    val (_, _, fs) = Bgp.parseQuery(
      """?x <http://ex.org/p.q> ?y . FILTER regex(?y, "a.b")""")
    assert(fs === Seq(Bgp.Regex("y", "a.b")))
    // an UNPARENTHESIZED comparison FILTER must not open IRI-angle mode
    // and swallow the following '.' separator (ADVICE r05)
    import spark.implicits._
    val num = Seq(("b", "p", "x"), ("a", "score", "10"), ("b", "score", "9"))
      .toDF("subj", "pred", "obj")
    val got = Bgp.query(num,
      """?s <score> ?v . FILTER ?v < 10 . ?s <p> ?b""",
      Seq("s")).as[String].collect()
    assert(got === Array("b"))
  }

  test("a filter:-prefixed subject is a term, not a FILTER clause") {
    val prefixes = Bgp.defaultPrefixes + ("filter" -> "http://ex.org/f/")
    val bgp = "filter:a <http://ex.org/p.q> ?y . ?y <http://ex.org/r> ?z"
    assert(Bgp.parse(bgp, prefixes) === Seq(
      Pattern(C("http://ex.org/f/a"), C("http://ex.org/p.q"), V("y")),
      Pattern(V("y"), C("http://ex.org/r"), V("z"))))
    val (pats, _, fs) = Bgp.parseQuery(bgp, prefixes)
    assert(pats.length == 2 && fs.isEmpty)
  }

  test("unbound select variable fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, "?a emi:hasSource ?b", Seq("zzz"))
    }
    assert(ex.getMessage.contains("zzz"))
  }

  test("constant filters reach the parquet scan as pushed filters") {
    val dir = java.nio.file.Files.createTempDirectory("bgp").toString
    triples.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val df = Bgp.query(onDisk, "?r emi:hasSource ?s", Seq("r", "s"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(pred), EqualTo(pred,") ||
      plan.contains(s"EqualTo(pred,${Model.EMI}hasSource)"), plan)
  }
}
