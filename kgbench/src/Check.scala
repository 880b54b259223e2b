package kgbench

import graft.kg.{DataGen, Model, Oracle}
import graft.kg.Model.Triple
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Order-independent triple-set fingerprint: row count plus the sums of
  * two independent row hashes. Spark computes it with `xxhash64` and
  * `hash` over a table; the benchmark recomputes the same hash functions
  * over an in-memory triple set, so no triple leaves the cluster.
  */
final case class Fingerprint(rows: Long, xx: Long, mm: Long)

object Check {
  val tripleCols: Seq[String] = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")

  def ofTable(df: DataFrame): Fingerprint = {
    val cs = tripleCols.map(col)
    val r = df.select(cs: _*).agg(count(lit(1)),
      coalesce(sum(shiftrightunsigned(xxhash64(cs: _*), 28)), lit(0L)),
      coalesce(sum(hash(cs: _*).cast("long")), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def ofTriples(ts: Iterable[Triple]): Fingerprint = {
    var n = 0L; var a = 0L; var b = 0L
    ts.foreach { t =>
      val vs: Seq[(Any, org.apache.spark.sql.types.DataType)] = Seq(
        (utf(t.subj), StringType), (utf(t.pred), StringType), (utf(t.obj), StringType),
        (t.objIsLiteral, BooleanType), (utf(t.objDatatype), StringType))
      var x = 42L; var m = 42
      vs.foreach { case (v, dt) =>
        if (v != null) {
          x = XxHash64Function.hash(v, dt, x)
          m = Murmur3HashFunction.hash(v, dt, m.toLong).toInt
        }
      }
      n += 1; a += x >>> 28; b += m.toLong
    }
    Fingerprint(n, a, b)
  }

  private def utf(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  /** `kg.Oracle.run` over documents [start, start + n) of the generator. */
  def oracle(start: Long, n: Long): Set[Triple] = {
    val media = DataGen.mediaRows.map { case (ref, e, c) => ref -> (e, c) }.toMap
    Oracle.run((start until start + n).map(DataGen.record), DataGen.wdSparqlRows,
      DataGen.lineageRows, media)
  }

  /** Canonical mapping re-derived from matcher output rows (TaxonName,
    * Mapped_ID_WD): Wikidata ids that one trimmed verbatim name resolved
    * to are equivalent; each class maps to its least id. A union-find,
    * independent of kg.Canonical's connected-components job.
    */
  def equivalence(rows: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    rows.collect { case (name, wd) if name != null && name.trim.nonEmpty &&
        wd != null && wd.nonEmpty => (name.trim, wd.replace("Wikidata:", "")) }
      .distinct.groupBy(_._1).values.map(_.map(_._2).distinct).filter(_.size > 1)
      .foreach { ids =>
        ids.foreach(i => parent.getOrElseUpdate(i, i))
        ids.tail.foreach { i =>
          val (a, b) = (find(ids.head), find(i))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
      }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Rewrites Wikidata IRIs through a canonical mapping (node → component,
    * bare ids) and re-applies set semantics, as canonicalization does.
    */
  def canonicalize(ts: Set[Triple], mapping: Map[String, String]): Set[Triple] = {
    def m(iri: String): String =
      if (iri.startsWith(Model.WD))
        mapping.get(iri.substring(Model.WD.length)).map(Model.WD + _).getOrElse(iri)
      else iri
    ts.map(t => t.copy(subj = m(t.subj), obj = if (t.objIsLiteral) t.obj else m(t.obj)))
  }
}

/** The graph_query mix, and the answers a plain hash-join evaluation
  * over an in-memory triple set gives for it (independent of ops.Bgp).
  */
final class QueryOracle(ts: Set[Triple]) {
  import Model._
  private val byPred: Map[String, Map[String, Seq[String]]] =
    ts.toSeq.groupBy(_.pred).map { case (p, xs) =>
      p -> xs.groupBy(_.subj).map { case (s, ys) => s -> ys.map(_.obj) }
    }
  private def mm(p: String): Map[String, Seq[String]] = byPred.getOrElse(p, Map.empty)
  private val hasSource = mm(EMI + "hasSource")
  private val hasTarget = mm(EMI + "hasTarget")
  private val classified = mm(EMI + "isClassifiedWith")
  private val label = mm(RDFS_LABEL)
  private val inTaxon = mm(EMI + "inTaxon")
  private val atLocation = mm(PROV + "atLocation")
  private val sampleOf = mm(SOSA + "isSampleOf")
  private def get(m: Map[String, Seq[String]], k: String) = m.getOrElse(k, Nil)

  /** Solutions of the globi-records block, as (source, target) pairs per
    * intxn with the multiplicity of the remaining variables.
    */
  private def block: Iterator[(String, String, Long)] =
    hasSource.iterator.flatMap { case (intxn, srcs) =>
      for {
        src <- srcs.iterator; tgt <- get(hasTarget, intxn).iterator
        it <- get(classified, intxn).iterator
      } yield (src, tgt, get(label, it).size.toLong *
        get(label, src).size * get(label, tgt).size)
    }

  def globiRecords: Long = block.map { case (s, t, k) =>
    k * get(inTaxon, s).size * get(inTaxon, t).size }.sum

  def wikidataIds: Long = {
    val seen = mutable.HashSet[String]()
    block.foreach { case (s, t, k) =>
      if (k > 0 && get(inTaxon, s).nonEmpty && get(inTaxon, t).nonEmpty) {
        seen ++= get(inTaxon, s); seen ++= get(inTaxon, t)
      }
    }
    seen.size.toLong
  }

  /** Interaction records, the anchors of the point lookups. */
  val starSubjects: IndexedSeq[String] = hasSource.keys.toIndexedSeq.sorted

  def star(rec: String): Seq[(String, String, String, String)] = (for {
    s <- get(hasSource, rec); w <- get(inTaxon, s); n <- get(label, s)
    o <- get(sampleOf, s)
  } yield (s, w, n, o)).sorted

  private val nameRe = QueryOracle.nameRegex.r.unanchored

  /** ilabel → (solutions, solutions with a bound ?loc). */
  def optionalFilter: Map[String, (Long, Long)] = {
    val acc = mutable.HashMap[String, (Long, Long)]()
    classified.foreach { case (rec, its) =>
      val locs = get(atLocation, rec).size.toLong
      for {
        it <- its; il <- get(label, it); ss <- get(hasSource, rec)
        sn <- get(label, ss) if nameRe.matches(sn)
      } {
        val (n, nl) = acc.getOrElse(il, (0L, 0L))
        acc(il) = if (locs == 0) (n + 1, nl) else (n + locs, nl + locs)
      }
    }
    acc.toMap
  }
}

object QueryOracle {
  val nameRegex = "^Taxon 1[0-9]$"
  val block: String =
    """?intxn emi:hasSource ?source . ?intxn emi:hasTarget ?target .
      |?intxn emi:isClassifiedWith ?itype . ?itype rdfs:label ?intxnLabel .
      |?source emi:inTaxon ?wdxSource . ?source rdfs:label ?sourceName .
      |?target emi:inTaxon ?wdxTarget . ?target rdfs:label ?targetName""".stripMargin
  /** Bound-subject star: the source sample of one record and its taxon,
    * label and organism.
    */
  def star(rec: String): String =
    s"""<$rec> emi:hasSource ?src . ?src emi:inTaxon ?wdx .
       |?src rdfs:label ?name . ?src sosa:isSampleOf ?org""".stripMargin
  val optionalFilter: String =
    s"""?rec emi:isClassifiedWith ?it . ?it rdfs:label ?ilabel .
       |?rec emi:hasSource ?ss . ?ss rdfs:label ?sname .
       |FILTER regex(?sname, "$nameRegex") .
       |OPTIONAL { ?rec prov:atLocation ?loc }""".stripMargin
}
