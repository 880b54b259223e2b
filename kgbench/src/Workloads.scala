package kgbench

import graft.kg._
import graft.sources.SnapshotTable
import kgbench.Main.{Metric, median}
import graft.ops.Bgp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** runFromTable and its traced replay. The replay makes the calls
  * runFromTable makes for stages 10–40 in the same order, with the same
  * `Pipeline.stage` barriers, wrapping each in a span; the stage spans
  * carry the layer whose plan the barrier materializes. The publish is
  * then the program's own: `Pipeline.runFromTable` over the finished
  * stages, which finds every manifest, skips the four stages and
  * publishes the graph.
  */
object Build {
  def run(r: Run, docsDir: String, out: String): (Pipeline.RunReport, Long) =
    if (!r.tracer.active) Pipeline.runFromTable(r.spark, docsDir, s"$out/stages", s"$out/graph")
    else replay(r, docsDir, s"$out/stages", s"$out/graph")

  /** Name of the span around the program's publish call. */
  val PublishSpan = "Pipeline.runFromTable (publish)"

  private def replay(r: Run, docsTableDir: String, outRoot: String,
      graphTableDir: String): (Pipeline.RunReport, Long) = {
    val spark = r.spark; val tr = r.tracer
    tr.span("pipeline", "runFromTable replay") {
      val snap = tr.span("snapshot", "SnapshotTable.currentSnapshot") {
        SnapshotTable.currentSnapshot(docsTableDir) }
      val docs = tr.span("snapshot", "SnapshotTable.read") {
        SnapshotTable.read(spark, docsTableDir, Some(snap)) }
      val nDocs = tr.span("pipeline", "docs.count") { docs.count() }
      val fp = s"table:$docsTableDir@$snap:docs:$nDocs:v1"
      val (records, s1, matched, s2, triples, s3) = headline(r, docs, nDocs, outRoot, fp)
      val (canonical, s4) = tr.span("canonical", "Pipeline.stage 40_canonical") {
        Pipeline.stage(spark, outRoot, "40_canonical", fp) {
          val edges = tr.span("canonical", "Canonical.equivalenceEdges") {
            Canonical.equivalenceEdges(matched) }
          val mapping = tr.span("canonical", "Canonical.connectedComponents") {
            Canonical.connectedComponents(edges) }
          tr.span("canonical", "Canonical.canonicalizeTriples") {
            Canonical.canonicalizeTriples(triples, mapping) }
        }
      }
      val (rep, graphSnap) = tr.span("pipeline", PublishSpan) {
        Pipeline.runFromTable(spark, docsTableDir, outRoot, graphTableDir, Some(snap))
      }
      r.check(rep.stages.forall(_.skipped),
        s"the publish call re-ran a stage the replay had finished: ${rep.stages}")
      (rep.copy(stages = Seq(s1, s2, s3, s4)), graphSnap)
    }
  }

  /** Wall (s) of the graph writes inside the publish spans. */
  def publishS(rep: LayerReport, graphTableDir: String): Seq[Double] =
    rep.spans.filter(_.name == PublishSpan).map(s => rep.writeMsIn(s, graphTableDir) / 1000)

  /** Stages 10–30 exactly as runFromTable composes them (the BASELINE
    * headline path: extract → link → resolve/emit).
    */
  def headline(r: Run, docs: DataFrame, nDocs: Long, outRoot: String, fp: String) = {
    val spark = r.spark; val tr = r.tracer
    val (records, s1) = tr.span("extract", "Pipeline.stage 10_extract") {
      Pipeline.stage(spark, outRoot, "10_extract", fp) {
        tr.span("extract", "Extract.records") { Extract.records(docs) } }
    }
    val (matched, s2) = tr.span("link", "Pipeline.stage 20_link") {
      Pipeline.stage(spark, outRoot, "20_link", fp) {
        tr.span("link", "Link.matchTaxaAdaptive") {
          Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows, DataGen.lineageRows, nDocs) }
      }
    }
    val (triples, s3) = tr.span("materialize", "Pipeline.stage 30_triples") {
      Pipeline.stage(spark, outRoot, "30_triples", fp) {
        val (dictId, dictName) = tr.span("materialize", "Materialize.wdMapDicts") {
          Materialize.wdMapDicts(matched) }
        val mm = tr.span("extract", "Extract.mediaMentions") {
          Extract.mediaMentions(records, DataGen.mediaMeta(spark)) }
        tr.span("materialize", "Materialize.globiTriplesFused") {
          Materialize.globiTriplesFused(records, dictId, dictName, Some(mm)) }
      }
    }
    (records, s1, matched, s2, triples, s3)
  }

  /** Σ over stage spans of the time the barrier spends beyond computing
    * and writing the stage output (manifest check, lineage-count
    * re-read, manifest write).
    */
  def stageOverhead(rep: LayerReport): Double = rep.spans
    .filter(_.name.startsWith("Pipeline.stage "))
    .map { s =>
      val kids = rep.spans.filter(_.parent == s.id).map(k => (k.start, k.end))
      (s.end - s.start) - Trace.unionMs(kids) - rep.writeMsIn(s)
    }.sum / 1000

  /** Counters read back from a finished build's stage outputs. */
  def stageCounters(r: Run, outRoot: String, withCanonical: Boolean): Unit = {
    val spark = r.spark
    def rows(stage: String) = spark.read.parquet(s"$outRoot/$stage/data").count().toDouble
    r.setLayer(Metric("extract.rows_out", rows("10_extract"), "rows"),
      Metric("materialize.triples_out", rows("30_triples"), "triples"))
    val matched = spark.read.parquet(s"$outRoot/20_link/data")
    r.linkCounters(matched)
    if (withCanonical) {
      val (edges, mapping) = r.canonicalMapping(matched)
      r.setLayer(Metric("canonical.edges", edges.toDouble, "edges"),
        Metric("canonical.merged_nodes", r.mergedNodes(mapping), "nodes"))
    }
  }
}

/** The BGP query mix both workloads serve after writing: the reference's
  * query_globi_records and query_globi_wikidata_ids patterns, a
  * bound-subject star (a point lookup) and an OPTIONAL + FILTER pattern,
  * each answer checked against a hash-join evaluation of the expected
  * triple set. One pass over the mix is one timed cycle.
  */
final class QueryMix(r: Run, expected: Set[Model.Triple]) {
  import QueryOracle._
  private val tr = r.tracer
  private val qo = new QueryOracle(expected)
  private val records = qo.globiRecords
  private val wdids = qo.wikidataIds
  private val optional = qo.optionalFilter
  private val rng = new scala.util.Random(r.o.seed)
  val times = mutable.ArrayBuffer[(String, Double)]()
  val cycles = mutable.ArrayBuffer[Double]()
  val executed = mutable.ArrayBuffer[(Query, DataFrame)]()

  final case class Query(kind: String, bgp: String, select: Seq[String],
      shape: DataFrame => DataFrame, ok: Array[Row] => Boolean)

  private def one(rows: Array[Row]) = rows.headOption.map(_.getLong(0))

  private def mix: Seq[Query] = {
    val rec = qo.starSubjects(rng.nextInt(qo.starSubjects.length))
    val star = qo.star(rec)
    Seq(
      Query("records", block, Seq("intxn"), _.agg(count(lit(1))),
        rows => one(rows).contains(records)),
      Query("star", QueryOracle.star(rec), Seq("src", "wdx", "name", "org"), identity,
        rows => rows.map(x => (x.getString(0), x.getString(1), x.getString(2),
          x.getString(3))).toSeq.sorted == star),
      Query("wdids", block, Seq("wdxSource", "wdxTarget"),
        _.select(explode(array(col("wdxSource"), col("wdxTarget"))).as("wdx"))
          .agg(countDistinct(col("wdx"))), rows => one(rows).contains(wdids)),
      Query("optional", optionalFilter, Seq("ilabel", "loc"),
        _.groupBy(col("ilabel")).agg(count(lit(1)), count(col("loc"))),
        rows => rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap == optional))
  }

  private def run(table: String, q: Query): Unit =
    r.calls.timed {
      val df = tr.span("bgp", "Bgp.query") {
        val t = tr.span("snapshot", "SnapshotTable.read") { SnapshotTable.read(r.spark, table) }
        val d = q.shape(Bgp.query(t, q.bgp, q.select))
        d.queryExecution.executedPlan
        d
      }
      val rows = tr.span("bgp", "execute") { df.collect() }
      r.check(q.ok(rows), s"${q.kind} answer differs from the hash-join evaluation")
      df
    }.foreach { case (df, s) => times += ((q.kind, s)); executed += ((q, df)) }

  def cycle(table: String): Double = {
    val s = r.clock(mix.foreach(q => run(table, q)))._2
    cycles += s
    s
  }

  /** `QueryRounds` cycles; the first one warms up the query path, which
    * the median of three leaves out.
    */
  def serve(table: String): Unit = (0 until Main.QueryRounds).foreach(_ => cycle(table))

  /** Untraced, traced, untraced cycle; returns the tracing overhead (the
    * traced cycle minus the mean of the untraced ones, which bracket it
    * so warm-up cancels). `executed` keeps the traced cycle's queries.
    */
  def tracedCycle(table: String): Double = {
    val u1 = tr.suspend(cycle(table))
    executed.clear()
    val t = cycle(table)
    val keep = executed.toList
    val u2 = tr.suspend(cycle(table))
    executed.clear(); executed ++= keep
    t - (u1 + u2) / 2
  }

  /** bgp counters of the queries executed since `executed` was cleared. */
  def layerCounters(rep: LayerReport, table: String): Unit = {
    def spanS(n: String) = rep.spans.filter(_.name == n).map(s => s.end - s.start).sum / 1000
    val bindings = executed.map { case (q, _) =>
      Bgp.query(SnapshotTable.read(r.spark, table), q.bgp, q.select).count() }.sum
    r.setLayer(
      Metric("bgp.plan_s", spanS("Bgp.query"), "s"),
      Metric("bgp.exec_s", spanS("execute"), "s"),
      Metric("bgp.rows_scanned_per_result",
        rep.recordsRead("bgp").toDouble / math.max(1L, bindings), "rows/row"),
      Metric("bgp.files_read", executed.map { case (_, df) => PlanFiles(df) }.sum.toDouble, "files"))
  }

  def report(): Seq[Metric] = {
    val all = times.map(_._2).toSeq
    val (p, tailS) = Main.tail(all)
    Seq(Metric("query_p50_s", median(all), "s"),
      Metric("query_tail_s", tailS, "s"),
      Metric("query_tail_percentile", p, "pct"),
      Metric("queries", all.length, "count"),
      Metric("query_mix_p50_s", median(cycles.toSeq), "s")) ++
      Seq("records", "star", "wdids", "optional").map(k =>
        Metric(s"query_${k}_p50_s", median(times.filter(_._1 == k).map(_._2).toSeq), "s"))
  }
}

/** Files read by the scans of an executed query plan. */
object PlanFiles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Long = collectWithSubqueries(df.queryExecution.executedPlan) {
    case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}

/** bulk_build (batch): after a warm-up build of a small table, rounds
  * of a full build of the docs table into a fresh output directory and
  * a resume after its 40_canonical manifest is deleted (a crash after
  * stage 30); then the query mix over the last round's published graph.
  */
final class BulkBuild(r: Run) {
  import r.{o, spark}

  def run(): Unit = {
    val tables = (0 until Main.SetupRepeats).map { k =>
      val d = r.dir(s"docs$k")
      r.setup(r.writeDocs(d, r.start, Main.BulkDocs, "overwrite"))
      d
    }
    r.phase("warmup")(r.tracer.suspend(warmUp()))
    val want = Check.oracle(r.start, Main.BulkDocs)
    val l = if (o.trace) Some(r.listen()) else None
    val before = r.commits()
    val builds = mutable.ArrayBuffer[Double]()
    val resumes = mutable.ArrayBuffer[Double]()
    var triples = 0L
    var last: Option[(String, Set[Model.Triple])] = None
    // the traced run times one round
    r.loop(Main.BuildRounds, if (o.trace) 0.0 else o.seconds) { i =>
      val out = r.dir(s"build$i")
      r.calls.timed(Build.run(r, tables.last, out)).foreach { case ((rep, _), s) =>
        builds += s; triples = rep.triples
        r.calls.timed(resume(tables.last, out)).foreach(resumes += _._2)
        last = Some(out -> r.phase("check")(verify(want, out, rep)))
      }
    }
    val mix = last.map { case (out, canon) => (s"$out/graph", new QueryMix(r, canon)) }
    val overhead = mix.map { case (g, m) =>
      if (o.trace) m.tracedCycle(g) else { m.serve(g); 0.0 } }
    for (l <- l; (out, _) <- last) {
      val graph = s"$out/graph"
      val rep = r.layerMetrics(l)
      r.writeTrace(rep)
      val after = r.commits()
      val publish = Build.publishS(rep, graph)
      r.setLayer(
        Metric("pipeline.publish_s", publish.sum, "s"),
        Metric("pipeline.publish_files",
          SnapshotTable.history(graph).lastOption.map(_.files).getOrElse(0L).toDouble, "files"),
        Metric("pipeline.stage_overhead_s", Build.stageOverhead(rep), "s"),
        Metric("snapshot.commits",
          (after.values.map(_.size).sum - before.values.map(_.size).sum).toDouble, "commits"),
        Metric("snapshot.commit_s", rep.jobMs("snapshot", writes = true) / 1000, "s"),
        Metric("snapshot.read_s", rep.jobMs("snapshot", writes = false) / 1000, "s"),
        Metric("trace.overhead_s", overhead.getOrElse(0.0), "s"))
      Build.stageCounters(r, s"$out/stages", withCanonical = true)
      mix.foreach { case (g, m) => m.layerCounters(rep, g) }
      r.say("report", Seq(Metric("publish_share_of_build",
        publish.headOption.getOrElse(0.0) / math.max(1e-9, builds.headOption.getOrElse(0.0)), "ratio")))
    }
    r.check(builds.nonEmpty && resumes.length == builds.length, "a build or resume failed")
    val build = median(builds.toSeq)
    r.e2e += Metric("build_s", build, "s")
    r.e2e += Metric("resume_s", median(resumes.toSeq), "s")
    r.e2e += Metric("query_s", mix.map(m => median(m._2.cycles.toSeq)).getOrElse(0.0), "s")
    r.say("report", Seq(
      Metric("build_s", build, "s"),
      Metric("builds", builds.length, "count"),
      Metric("build_max_s", builds.maxOption.getOrElse(0.0), "s"),
      Metric("triples_per_s", triples / math.max(1e-9, build), "triples/s"),
      Metric("resume_s", median(resumes.toSeq), "s"),
      Metric("raw_triples", triples, "triples")) ++ mix.toSeq.flatMap(_._2.report()))
  }

  /** The 40_canonical manifest is deleted (a crash after stage 30) and
    * the build re-run: stages 10–30 are skipped, stage 40 and the
    * publish re-run.
    */
  private def resume(docs: String, out: String) = {
    Files.delete(Paths.get(s"$out/stages/40_canonical/_MANIFEST.json"))
    Build.run(r, docs, out)
  }

  /** Class loading and JIT: one build of a small table, untimed and
    * unchecked.
    */
  private def warmUp(): Unit = {
    val docs = r.dir("warm/docs")
    r.writeDocs(docs, r.start, Main.WarmDocs, "overwrite")
    Build.run(r, docs, r.dir("warm"))
  }

  private def matched(out: String): Seq[(String, String)] =
    spark.read.parquet(s"$out/stages/20_link/data").select("TaxonName", "Mapped_ID_WD")
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq

  /** Raw triples = oracle; every published graph snapshot (build and
    * resume) = the oracle canonicalized through the re-derived
    * equivalence, which is returned.
    */
  private def verify(want: Set[Model.Triple], out: String,
      rep: Pipeline.RunReport): Set[Model.Triple] = {
    val wantFp = Check.ofTriples(want)
    val raw = Check.ofTable(spark.read.parquet(s"$out/stages/30_triples/data"))
    r.check(raw == wantFp, s"raw triples $raw != oracle $wantFp")
    r.check(rep.triples == want.size, s"report triples ${rep.triples} != ${want.size}")
    val canon = Check.canonicalize(want, Check.equivalence(matched(out)))
    val canonFp = Check.ofTriples(canon)
    SnapshotTable.history(s"$out/graph").map(_.id).foreach { snap =>
      val g = Check.ofTable(SnapshotTable.read(spark, s"$out/graph", Some(snap)))
      r.check(g == canonFp, s"graph snapshot $snap $g != canonical oracle $canonFp")
    }
    canon
  }
}

/** incremental (closed loop, one appender): a base table built into the
  * raw and canonical tables during set-up, then rounds of an append of
  * new documents and one incremental call, which crashes right after
  * its raw-graph commit (the program's failpoint hook); the re-run that
  * repairs the canonical table is the resume. Then the query mix over
  * the canonical table.
  */
final class Incremental(r: Run) {
  import r.{o, spark}
  private val appendTimes = mutable.ArrayBuffer[Double]()
  private var appended = 0L

  /** Stands in for a crash right after an increment's raw-graph commit. */
  private final class Crash extends RuntimeException("simulated crash after the raw-graph commit")

  def run(): Unit = {
    val bases = (0 until Main.SetupRepeats).map { k =>
      val d = r.dir(s"inc$k")
      r.setup(r.writeDocs(s"$d/docs", r.start, Main.BaseDocs, "overwrite"))
      d
    }
    val base = bases.last
    val (docs, raw, canon) = (s"$base/docs", s"$base/raw", s"$base/canon")
    def increment(failpoint: String => Unit = _ => ()) =
      r.tracer.span("pipeline", "Pipeline.incrementalCanonicalFromTable") {
        Pipeline.incrementalCanonicalFromTable(spark, docs, raw, canon, failpoint = failpoint)
      }
    def append(): Boolean =
      r.calls.timed(r.tracer.span("snapshot", "SnapshotTable.write append") {
        r.writeDocs(docs, r.start + Main.BaseDocs + appended, Main.DeltaDocs, "append")
      }).map { case (_, s) => appended += Main.DeltaDocs; appendTimes += s }.isDefined
    // the base build is the warm-up: it runs the same calls the rounds make
    val baseBuild = r.phase("warmup")(r.clock(r.tracer.suspend(increment()))._2)
    val rawBase = SnapshotTable.currentSnapshot(raw)

    val l = if (o.trace) Some(r.listen()) else None
    val before = r.commits()
    val docSnaps = mutable.ArrayBuffer(SnapshotTable.currentSnapshot(docs))
    val incTimes = mutable.ArrayBuffer[Double]()
    val resumed = mutable.ArrayBuffer[Double]()
    // each round: an increment runs until the crash right after its
    // raw-graph commit; the re-run then repairs the canonical table
    r.loop(Main.BuildRounds, if (o.trace) 0.0 else o.seconds) { _ =>
      if (append()) {
        docSnaps += SnapshotTable.currentSnapshot(docs)
        r.calls.timed {
          try { increment(p => if (p == "raw-graph") throw new Crash); false }
          catch { case _: Crash => true }
        }.foreach { case (crashed, s) =>
          r.check(crashed, "the raw-graph failpoint did not stop the increment")
          incTimes += s
        }
        r.calls.timed(increment()).foreach { case (res, s) =>
          r.check(res.mode != "noop", "the re-run after the crash did not repair the canonical table")
          resumed += s
        }
      }
    }
    val rawOps = SnapshotTable.history(raw).filter(_.id > rawBase).map(_.operation)
    val rebuildRatio = rawOps.count(_ != "append").toDouble / math.max(1, rawOps.length)
    val state = matched(raw)
    val want = Check.oracle(r.start, Main.BaseDocs + appended)
    val canonWant = Check.canonicalize(want, Check.equivalence(
      state.map(m => (m.taxonName, m.mappedIdWd))))
    val mix = new QueryMix(r, canonWant)
    val overhead = if (o.trace) mix.tracedCycle(canon) else { mix.serve(canon); 0.0 }

    l.foreach { l =>
      val rep = r.layerMetrics(l)
      r.writeTrace(rep)
      val after = r.commits()
      r.setLayer(
        Metric("extract.rows_out", extracted(docs, docSnaps.toSeq, rawOps), "rows"),
        Metric("materialize.triples_out",
          r.rowsWritten(before, after, _ == raw).toDouble, "triples"),
        Metric("pipeline.rebuild_ratio", rebuildRatio, "ratio"),
        Metric("pipeline.rows_written_per_delta_doc",
          r.rowsWritten(before, after, d => d == raw || d == canon).toDouble /
            math.max(1L, appended), "rows/doc"),
        Metric("snapshot.commits",
          (after.values.map(_.size).sum - before.values.map(_.size).sum).toDouble, "commits"),
        Metric("snapshot.commit_s", rep.jobMs("snapshot", writes = true) / 1000, "s"),
        Metric("snapshot.read_s", rep.jobMs("snapshot", writes = false) / 1000, "s"),
        Metric("trace.overhead_s", overhead, "s"))
      val matchedDf = Link.matchedRowsToDf(spark, state)
      r.linkCounters(matchedDf)
      val mapping = Check.equivalence(state.map(m => (m.taxonName, m.mappedIdWd)))
      r.setLayer(
        Metric("canonical.edges", Canonical.equivalenceEdges(matchedDf).count().toDouble, "edges"),
        Metric("canonical.merged_nodes", r.mergedNodes(mapping), "nodes"))
      mix.layerCounters(rep, canon)
    }

    r.check(incTimes.nonEmpty && incTimes.length == resumed.length, "an increment failed")
    r.phase("check")(verify(want, canonWant, raw, canon))
    val inc = median(incTimes.toSeq)
    r.e2e += Metric("build_s", inc, "s")
    r.e2e += Metric("resume_s", median(resumed.toSeq), "s")
    r.e2e += Metric("query_s", median(mix.cycles.toSeq), "s")
    r.say("report", Seq(
      Metric("base_build_s", baseBuild, "s"),
      Metric("increments", incTimes.length, "count"),
      Metric("increment_p50_s", median(incTimes.zip(resumed).map(t => t._1 + t._2).toSeq), "s"),
      Metric("increments_total_s", incTimes.sum + resumed.sum, "s"),
      Metric("increment_to_crash_p50_s", inc, "s"),
      Metric("append_s", median(appendTimes.toSeq), "s"),
      Metric("resume_s", median(resumed.toSeq), "s"),
      Metric("rebuild_ratio", rebuildRatio, "ratio")) ++ mix.report())
  }

  /** Records `Extract.records` yields over the documents each increment
    * processed: the appended documents when its raw commit was an
    * append, the whole docs snapshot when it was a rebuild. `snaps` are
    * the docs snapshots before the first and after each append; the
    * increments committed `rawOps`, one each.
    */
  private def extracted(docs: String, snaps: Seq[Long], rawOps: Seq[String]): Double = {
    r.check(rawOps.length == snaps.length - 1,
      s"${rawOps.length} raw commits for ${snaps.length - 1} increments")
    def records(snap: Long) = Extract.records(SnapshotTable.read(spark, docs, Some(snap))).count()
    rawOps.zip(snaps.zip(snaps.drop(1))).map { case (op, (prev, cur)) =>
      if (op == "append") records(cur) - records(prev) else records(cur)
    }.sum.toDouble
  }

  /** The matcher output over the raw table's distinct-taxa state. */
  private def matched(raw: String): Seq[LocalMatcher.MatchedRow] = {
    val taxa = SnapshotTable.read(spark, s"$raw-state/taxa")
      .select("TaxonId", "TaxonName", "TaxonPathName", "TaxonRankName", "rowIdx").collect()
      .map(x => LocalMatcher.TaxaRow(x.getString(0), x.getString(1), x.getString(2),
        x.getString(3), x.getLong(4))).sortBy(_.rowIdx).toSeq
    LocalMatcher.matchTaxa(taxa, DataGen.wdSparqlRows, DataGen.lineageRows)
  }

  /** Raw table = oracle over every document appended so far; canonical
    * table = that oracle canonicalized through the re-derived equivalence.
    */
  private def verify(want: Set[Model.Triple], canonWant: Set[Model.Triple],
      raw: String, canon: String): Unit = {
    val got = Check.ofTable(SnapshotTable.read(spark, raw))
    val wantFp = Check.ofTriples(want)
    r.check(got == wantFp, s"raw table $got != oracle $wantFp")
    val canonGot = Check.ofTable(SnapshotTable.read(spark, canon))
    val canonFp = Check.ofTriples(canonWant)
    r.check(canonGot == canonFp, s"canonical table $canonGot != canonical oracle $canonFp")
  }
}

/** scale_out: the headline path (stages 10–30) at local[1], then at
  * local[4], each level in a fresh session of the same process.
  */
final class ScaleOut(r: Run) {
  import r.o
  val Levels = Seq(1, 4)

  private def pass(docsDir: String, out: String): Long =
    r.tracer.span("pipeline", "headline pass") {
      val docs = r.tracer.span("snapshot", "SnapshotTable.read") {
        SnapshotTable.read(r.spark, docsDir) }
      val nDocs = r.tracer.span("pipeline", "docs.count") { docs.count() }
      Build.headline(r, docs, nDocs, out, s"table:$docsDir:docs:$nDocs:v1")._6.rows
    }

  def run(): Unit = {
    val tables = (0 until Main.SetupRepeats).map { k =>
      val d = r.dir(s"docs$k")
      r.setup(r.writeDocs(d, r.start, Main.ScaleDocs, "overwrite"))
      d
    }
    val warm = r.dir("warm/docs")
    r.writeDocs(warm, r.start, Main.WarmDocs, "overwrite")
    val want = Check.ofTriples(Check.oracle(r.start, Main.ScaleDocs))
    val times = Levels.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    var triples = 0L
    var n = 0
    Levels.foreach { cores =>
      r.spark = Main.session(cores, o.work)
      pass(warm, r.dir(s"warm-$cores"))
      def timedPass(): Unit = {
        val out = r.dir(s"pass$n"); n += 1
        r.calls.timed(pass(tables(0), out)).foreach { case (rows, s) =>
          times(cores) += s; triples = rows
          if (times(cores).length == 1) {
            val got = Check.ofTable(r.spark.read.parquet(s"$out/30_triples/data"))
            r.check(got == want, s"local[$cores] triples $got != oracle $want")
          }
        }
      }
      if (o.trace) {
        r.tracer.suspend(timedPass())
        val l = r.listen()
        timedPass()
        val rep = r.layerMetrics(l)
        r.writeTrace(rep, s"-local$cores")
        r.say("report", Seq(
          Metric(s"link.driver_s@local[$cores]", rep.generic("link")(2)._2, "s"),
          Metric(s"link.wall_s@local[$cores]", rep.generic("link").head._2, "s"),
          Metric(s"traced_pass_s@local[$cores]", times(cores).last, "s")))
        r.setLayer(
          Metric("pipeline.stage_overhead_s", Build.stageOverhead(rep), "s"),
          Metric("snapshot.read_s", rep.jobMs("snapshot", writes = false) / 1000, "s"),
          Metric("trace.overhead_s", times(cores).last - times(cores).head, "s"))
        Build.stageCounters(r, r.dir(s"pass${n - 1}"), withCanonical = false)
      } else r.loop(1, o.seconds / Levels.length)(_ => timedPass())
    }
    val t1 = median(times(1).toSeq); val t4 = median(times(4).toSeq)
    r.e2e += Metric("pass_local4_s", t4, "s")
    r.e2e += Metric("pass_local1_s", t1, "s")
    r.say("report", Seq(
      Metric("core_triples_per_s", triples / math.max(1e-9, t4), "triples/s"),
      Metric("scaling_eff", t1 / math.max(1e-9, 4 * t4), "ratio"),
      Metric("pass_p50_s@local[1]", t1, "s"),
      Metric("pass_p50_s@local[4]", t4, "s"),
      Metric("raw_triples", triples, "triples")))
  }
}
