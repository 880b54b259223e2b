package kgbench

import graft.kg._
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** KG-build benchmark: one workload per invocation.
  *
  * Usage: Main --workload <bulk_build|incremental|scale_out>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *
  * Prints report lines (`report {...}`), then one JSON line with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics when traced. Exit code 1 when a
  * correctness check failed.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int)

  final case class Metric(name: String, value: Double, unit: String)

  // Corpus sizes (documents). Each run draws a contiguous, seed-chosen
  // document range, so seeds differ in documents, not in distributions.
  val BulkDocs = 2000L
  val BaseDocs = 2000L
  val DeltaDocs = 500L
  val ScaleDocs = 12000L
  val WarmDocs = 500L
  /** Set-up (writing the input docs table) repeats this often per run. */
  val SetupRepeats = 3
  /** Timed rounds per untraced run at least: builds (each with its
    * resume) or increments (each with its repair), after an untimed
    * warm-up, and passes over the query mix. Each reported time is the
    * median of its rounds. A build round costs ~18 s and an increment
    * round ~11 s, so one of each fits the run-time budget.
    */
  val BuildRounds = 1
  val QueryRounds = 3
  val Workloads = Seq("bulk_build", "incremental", "scale_out")

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val r = new Run(o)
    val code =
      try {
        r.spark = r.phase("session")(session(o.cores, o.work))
        println(s"""record {"jdk":"${System.getProperty("java.version")}","spark":"${r.spark.version}","class_sharing":${classSharing}}""")
        o.workload match {
          case "bulk_build" => new BulkBuild(r).run()
          case "incremental" => new Incremental(r).run()
          case "scale_out" => new ScaleOut(r).run()
        }
        r.finish()
      } finally {
        SparkSession.getActiveSession.foreach(_.stop())
      }
    System.exit(code)
  }

  /** Whether the JVM mapped the class-data-sharing archive. */
  def classSharing: Boolean = java.lang.management.ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    .getVMOption("UseSharedSpaces").getValue == "true"

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest percentile (whole percent) with at least ten samples above
    * it, as (percentile, value); the maximum when there are fewer than
    * eleven samples.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.length
    if (n < 11) (100, s.lastOption.getOrElse(0.0))
    else {
      val p = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(1)
      (p, s(math.ceil(p / 100.0 * n).toInt - 1))
    }
  }
}

import Main.{Metric, Opts, median}

/** Timed calls: each one counts as attempted, a thrown exception as
  * failed (it is recorded, never swallowed into a timing).
  */
final class Calls {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()

  def timed[T](body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { val v = body; Some((v, (System.nanoTime() - t0) / 1e9)) }
    catch { case NonFatal(e) => failed += 1; errors += e.toString; None }
  }
}

/** State of one benchmark run. */
final class Run(val o: Opts) {
  var spark: SparkSession = _
  val calls = new Calls
  val failures = mutable.ArrayBuffer[String]()
  val e2e = mutable.ArrayBuffer[Metric]()
  val perLayer = mutable.LinkedHashMap[String, Metric]()
  val setupTimes = mutable.ArrayBuffer[Double]()
  val tracer = new Tracer(o.trace)
  private val t0 = System.nanoTime()

  /** First document index: a seed-chosen multiple of a million. */
  val start: Long = {
    var z = o.seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    1000000L * (1 + java.lang.Math.floorMod(z, 900L))
  }

  def dir(name: String): String = s"${o.work}/$name"

  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  def clock[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val v = body; (v, (System.nanoTime() - t) / 1e9)
  }

  /** Runs `op(i)` for i = 0, 1, … over the measured window: another
    * round starts while the rounds so far plus one more as long as the
    * last fit in --seconds, and at least `min` rounds run.
    */
  def loop(min: Int, budget: Double = o.seconds)(op: Int => Unit): Unit = {
    var i = 0; var used = 0.0; var last = 0.0
    while (i < min || used + last <= budget) {
      val (_, s) = clock(op(i)); used += s; last = s; i += 1
    }
  }

  /** Wall time of named untimed phases (session start, checks), reported. */
  val phases = mutable.LinkedHashMap[String, Double]()

  def phase[T](name: String)(body: => T): T = {
    val (v, s) = clock(body); phases(name) = phases.getOrElse(name, 0.0) + s; v
  }

  /** One set-up repetition, timed into `setup_s`. */
  def setup[T](body: => T): T = { val (v, s) = clock(body); setupTimes += s; v }

  def say(kind: String, ms: Seq[Metric]): Unit = {
    val body = ms.map(m => s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}""")
    println(s"""$kind {${body.mkString(",")}}""")
  }

  def writeDocs(path: String, first: Long, n: Long, mode: String): Long = {
    val s = spark
    import s.implicits._
    SnapshotTable.write(s.range(first, first + n, 1, 16)
      .map(i => DataGen.document(i)).toDF(), path, mode = mode)
  }

  /** Every snapshot table under the work dir → its snapshot history. */
  def commits(): Map[String, Seq[SnapshotTable.Snapshot]] = {
    val root = Paths.get(o.work)
    val w = Files.walk(root)
    try w.iterator().asScala
      .filter(p => p.getFileName.toString == "version-hint.text")
      .map(p => p.getParent.getParent.toString)
      .map(d => d -> SnapshotTable.history(d)).toMap
    finally w.close()
  }

  /** Rows each new commit wrote, summed over tables, since `before`. */
  def rowsWritten(before: Map[String, Seq[SnapshotTable.Snapshot]],
      after: Map[String, Seq[SnapshotTable.Snapshot]], only: String => Boolean): Long =
    after.toSeq.filter(t => only(t._1)).map { case (d, hist) =>
      val old = before.getOrElse(d, Nil).map(_.id).toSet
      val byId = hist.map(h => h.id -> h).toMap
      hist.filterNot(h => old(h.id)).map { h =>
        if (h.operation == "append") h.rows - byId.get(h.parent).map(_.rows).getOrElse(0L)
        else h.rows
      }.sum
    }.sum

  /** Registers a job listener for a traced region on the current session. */
  def listen(): JobListener = {
    val l = new JobListener
    tracer.spans.clear()
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Per-layer metrics of a traced region, plus layer-specific counters. */
  def layerMetrics(l: JobListener): LayerReport = {
    l.drain(spark)
    spark.sparkContext.removeSparkListener(l)
    val rep = new LayerReport(tracer, l)
    Trace.layers.flatMap(rep.generic).foreach { case (n, v, u) =>
      perLayer(n) = Metric(n, v, u) }
    rep
  }

  def setLayer(ms: Metric*): Unit = ms.foreach(m => perLayer(m.name) = m)

  def writeTrace(rep: LayerReport, tag: String = ""): Unit = {
    val out = Paths.get(o.work).getParent.resolve("traces")
    Files.createDirectories(out)
    val f = out.resolve(s"${o.workload}-seed${o.seed}$tag.json")
    Files.writeString(f, s"""{"spans":${rep.spansJson},\n"jobs":${rep.jobsJson}}\n""")
    println(s"""trace {"file":"${Json.esc(f.toString)}","spans":${rep.spans.length},"jobs":${rep.jobs.length}}""")
  }

  /** Every per-layer metric name, so each traced run reports all of them. */
  val layerSpecific: Seq[(String, String)] = Seq(
    "extract.rows_out" -> "rows", "link.taxa_rows" -> "rows",
    "link.status.id" -> "rows", "link.status.name" -> "rows",
    "link.status.lineage" -> "rows", "link.status.unmatched" -> "rows",
    "materialize.triples_out" -> "triples", "canonical.edges" -> "edges",
    "canonical.merged_nodes" -> "nodes", "pipeline.publish_s" -> "s",
    "pipeline.publish_files" -> "files", "pipeline.stage_overhead_s" -> "s",
    "pipeline.rebuild_ratio" -> "ratio", "pipeline.rows_written_per_delta_doc" -> "rows/doc",
    "snapshot.commits" -> "commits", "snapshot.commit_s" -> "s", "snapshot.read_s" -> "s",
    "bgp.plan_s" -> "s", "bgp.exec_s" -> "s", "bgp.rows_scanned_per_result" -> "rows/row",
    "bgp.files_read" -> "files", "trace.overhead_s" -> "s")

  def finish(): Int = {
    calls.errors.foreach(e => System.err.println(s"failed call: $e"))
    failures.foreach(f => System.err.println(s"check failed: $f"))
    val correct = failures.isEmpty && calls.failed == 0 && calls.attempted > 0
    val metrics =
      if (o.trace) {
        layerSpecific.foreach { case (n, u) =>
          if (!perLayer.contains(n)) perLayer(n) = Metric(n, 0.0, u) }
        perLayer.values.toSeq
      } else Metric("setup_s", median(setupTimes.toSeq), "s") +: e2e.toSeq
    say("report", Seq(
      Metric("error_rate", calls.failed.toDouble / math.max(1, calls.attempted), "ratio"),
      Metric("setup_repeats", setupTimes.length, "count"),
      Metric("run_s", elapsed, "s")) ++
      phases.map { case (k, v) => Metric(s"phase.$k", v, "s") })
    val body = metrics.map(m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":$correct,"attempted":${calls.attempted},"failed":${calls.failed},"metrics":{$body}}""")
    if (correct) 0 else 1
  }

  /** Matcher output → link counters (rows by Match_Status class). */
  def linkCounters(matched: DataFrame): Unit = {
    val byStatus = matched.groupBy(col("Match_Status")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
    def cls(s: String): String =
      if (s.startsWith("NAME-MATCH")) "id"
      else if (s == "ID-MATCHED-BY-NAME-direct") "name"
      else if (s.startsWith("ID-MATCHED-BY-NAME-DUPL")) "lineage"
      else "unmatched"
    val counts = byStatus.groupMapReduce(kv => cls(kv._1))(_._2)(_ + _)
    setLayer(Metric("link.taxa_rows", byStatus.values.sum.toDouble, "rows"))
    Seq("id", "name", "lineage", "unmatched").foreach(c =>
      setLayer(Metric(s"link.status.$c", counts.getOrElse(c, 0L).toDouble, "rows")))
  }

  /** Matcher output → (equivalence edges, canonical mapping). */
  def canonicalMapping(matched: DataFrame): (Long, Map[String, String]) = {
    val edges = Canonical.equivalenceEdges(matched)
    val mapping = Canonical.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (edges.count(), mapping)
  }

  def mergedNodes(mapping: Map[String, String]): Double =
    mapping.count { case (n, c) => n != c }.toDouble
}
