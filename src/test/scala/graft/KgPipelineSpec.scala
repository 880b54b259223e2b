package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg._

/** Golden end-to-end: the distributed engine's triple set must equal the
  * single-threaded oracle's (P/R = 1.0 on the deterministic corpus), the
  * span-sequence invariant must hold per row, and the triple set must be
  * invariant to input partitioning (SURVEY §5.2).
  */
class KgPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 240

  def engineTriples(partitions: Int): Set[Model.Triple] = {
    val docs = DataGen.corpus(spark, N, partitions).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N, maxDriverRows = 0)
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    Materialize.dedupShared(Materialize.triplesTagged(records,
      Materialize.FrameDicts(dictId, dictName), Some(mm)), None)
      .as[Model.Triple].collect().toSet
  }

  lazy val oracleSet: Set[Model.Triple] = Oracle.runCorpus(N)
  lazy val engineSet: Set[Model.Triple] = engineTriples(4)

  test("span-sequence invariant (kind, text, media_ref, order)") {
    val violations = Extract.spanInvariantViolations(DataGen.corpus(spark, N, 4))
    assert(violations.count() == 0)
  }

  test("engine triples == oracle triples (P/R = 1.0)") {
    val missing = oracleSet -- engineSet // recall gaps
    val extra = engineSet -- oracleSet // precision gaps
    val show = (s: Set[Model.Triple]) => s.take(5).mkString("\n  ", "\n  ", "")
    assert(missing.isEmpty && extra.isEmpty,
      s"\nmissing=${missing.size}${show(missing)}\nextra=${extra.size}${show(extra)}" +
        s"\noracle=${oracleSet.size} engine=${engineSet.size}")
  }

  test("triple set is partition-count invariant") {
    assert(engineTriples(1) == engineSet)
  }

  test("fused broadcast-map emission equals join-based emission") {
    val docs = DataGen.corpus(spark, N, 4).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N, maxDriverRows = 0)
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val fused = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    assert(fused == engineSet)
  }

  test("compact (driver-local) matcher path equals the distributed path") {
    val docs = DataGen.corpus(spark, N, 4).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchStacked(Link.stackTaxa(records, N),
      DataGen.wdSparqlRows, DataGen.lineageRows, Long.MaxValue)
      .fold(identity, _ => fail("the guard chose the distributed arm"))
    val (idMap, nameMap) = Materialize.localWdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val compact = Materialize.dedupShared(Materialize.triplesTagged(records,
      Materialize.DriverDicts(idMap, nameMap), Some(mm)), None)
      .as[Model.Triple].collect().toSet
    assert(compact == engineSet)
    // and the matched rows themselves agree with the distributed matcher
    val distributed = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N, maxDriverRows = 0)
      .select("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
        "Match_Status", "rowIdx")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSet
    val local = matched.map(m => (m.taxonId, m.taxonName, m.mappedValue,
      m.mappedIdWd, m.status, m.rowIdx)).toSet
    assert(local == distributed,
      s"only-local=${(local -- distributed).take(3)} " +
        s"only-dist=${(distributed -- local).take(3)}")
  }

  test("adaptive matcher: forced-distributed equals compact") {
    val records = Extract.records(DataGen.corpus(spark, N, 4).toDF())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
        "Match_Status", "rowIdx").collect().map(_.toSeq).toSet
    val compact = rows(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N)) // default guard → driver-local path
    val distributed = rows(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N, maxDriverRows = 0)) // force distributed
    assert(compact == distributed,
      s"only-compact=${(compact -- distributed).take(3)} " +
        s"only-dist=${(distributed -- compact).take(3)}")
  }

  test("matcher covers the status lattice") {
    val records = Extract.records(DataGen.corpus(spark, N, 4).toDF())
    val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, N, maxDriverRows = 0)
    val statuses = matched.select("Match_Status").distinct()
      .as[String].collect().toSet
    assert(statuses.contains("NAME-MATCH-YES"))
    assert(statuses.contains("ID-MATCHED-BY-NAME-direct"))
    assert(statuses.contains("ID-MATCHED-BY-NAME-DUPL-duplicate"))
  }

  test("pipeline resume skips completed stages idempotently") {
    val out = java.nio.file.Files.createTempDirectory("kgrun").toString
    val r1 = Pipeline.run(spark, 60, out, partitions = 4)
    assert(r1.stages.forall(!_.skipped))
    assert(r1.triples > 0)
    val r2 = Pipeline.run(spark, 60, out, partitions = 4)
    assert(r2.stages.forall(_.skipped), s"expected all skipped: ${r2.stages}")
    assert(r2.triples == r1.triples)
  }
}
