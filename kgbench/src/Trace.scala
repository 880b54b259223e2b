package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Wall clock shared by spans and Spark listener events: epoch
  * milliseconds (listener events carry `System.currentTimeMillis`),
  * interpolated with `nanoTime` so short spans keep sub-ms resolution.
  */
object Clock {
  private val n0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def ms: Double = ms0 + (System.nanoTime() - n0) / 1e6
}

final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, var end: Double)

final case class JobRec(id: Int, start: Double, var end: Double,
    stages: Seq[Int], execId: Option[Long], group: String, site: String)

/** A SQL execution; `writePath` is the output path of a file write,
  * "" when the execution wrote no files.
  */
final case class ExecRec(id: Long, start: Double, var end: Double,
    site: String, writePath: String) {
  def isWrite: Boolean = writePath.nonEmpty
}

final class TaskAgg {
  val durations = mutable.ArrayBuffer[Double]()
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
}

/** Records every Spark job, SQL execution and task the session runs.
  * Registered by the benchmark itself, only in traced runs.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val execs = mutable.LinkedHashMap[Long, ExecRec]()
  val tasks = mutable.HashMap[Int, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs += JobRec(e.jobId, e.time.toDouble, -1, e.stageIds,
      prop("spark.sql.execution.id").map(_.toLong),
      prop("spark.jobGroup.id").getOrElse(""), site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = tasks.getOrElseUpdate(e.stageId, new TaskAgg)
    a.durations += e.taskInfo.duration / 1000.0
    Option(e.taskMetrics).foreach { m =>
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.time.toDouble, -1,
        s.details, JobListener.writePath(s.physicalPlanDescription))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time.toDouble)
    }
    case _ =>
  }

  /** Blocks until every event posted before the call has been handled:
    * runs a marker job and waits for its end event (the listener bus is
    * FIFO).
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val group = s"kgbench-drain-${System.nanoTime()}"
    sc.setJobGroup(group, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    def done = synchronized(jobs.exists(j => j.group == group && j.end >= 0))
    while (!done) {
      require(System.currentTimeMillis() < deadline, "listener bus did not drain")
      Thread.sleep(20)
    }
  }
}

object JobListener {
  private val path = """\w+:/[^,\s\]]+""".r

  /** Output path of the file write a physical plan runs: the first path
    * after the last mention of the write command (in the formatted plan,
    * its `Arguments:` line); "?" for a write whose path is not shown, ""
    * when the plan writes no files.
    */
  def writePath(plan: String): String = {
    val i = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
    if (i < 0) "" else path.findFirstIn(plan.substring(i)).getOrElse("?")
  }
}

/** Spans around the calls the benchmark makes into each module, plus
  * job attribution. Off (a plain call-through) unless `on`.
  */
final class Tracer(on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var active: Boolean = on

  /** Runs `body` with tracing off (the untraced twin of a traced run). */
  def suspend[T](body: => T): T = {
    val was = active; active = false
    try body finally active = was
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
        layer, name, Clock.ms, -1)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = Clock.ms; stack = stack.tail }
    }
}

object Trace {
  /** Modules measured as layers: module class → layer name. */
  val layerOf: Map[String, String] = Map(
    "graft.kg.Extract" -> "extract",
    "graft.kg.Link" -> "link",
    "graft.kg.LocalMatcher" -> "link",
    "graft.kg.Materialize" -> "materialize",
    "graft.kg.Canonical" -> "canonical",
    "graft.kg.Pipeline" -> "pipeline",
    "graft.sources.SnapshotTable" -> "snapshot",
    "graft.ops.Bgp" -> "bgp")
  val layers: Seq[String] = Seq("extract", "link", "materialize", "canonical",
    "pipeline", "snapshot", "bgp")

  private val frame = """(?:^|/)(graft\.[\w.$]+)\(""".r

  /** Module of the first `graft.*` frame of a call site (the innermost
    * program frame that issued the job), or "" when there is none.
    */
  def siteModule(site: String): String =
    site.linesIterator.flatMap(l => frame.findFirstMatchIn(l.trim)).map { m =>
      val owner = m.group(1).split('.').dropRight(1).mkString(".")
      owner.takeWhile(_ != '$')
    }.nextOption().getOrElse("")

  final case class Item(layer: String, start: Double, end: Double, isJob: Boolean)

  /** Measure (ms) of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

/** Per-layer numbers from one traced region.
  *
  * Attribution rules:
  *  - a job belongs to the innermost span open when it started;
  *  - its layer is the module of the first `graft.*` frame in its call
  *    site (the SQL execution's call site when it has one, so jobs that
  *    adaptive execution submits from helper threads keep the caller's
  *    site), except when that module is not a layer or is kg.Pipeline:
  *    then it takes its span's layer. A `Pipeline.stage` barrier thus
  *    counts toward the layer whose lazily built plan it materializes;
  *  - every instant is owned by the most recently started item (job or
  *    span) still running, so a span's self time excludes what its
  *    children, spans or jobs of other layers, covered.
  */
final class LayerReport(tracer: Tracer, l: JobListener) {
  import Trace._
  val spans: Seq[Span] = tracer.spans.toSeq.filter(_.end >= 0)
  private val (jobsRaw, execs, tasks) = l.synchronized {
    (l.jobs.toSeq.filter(_.end >= 0), l.execs.toMap, l.tasks.toMap)
  }

  /** Call site of a job: its SQL execution's when it has one. */
  private def siteOf(j: JobRec): String =
    j.execId.flatMap(execs.get).map(_.site).filter(_.nonEmpty).getOrElse(j.site)

  private def spanAt(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption

  /** (job, layer) for every job started inside a span. */
  val jobs: Seq[(JobRec, String)] = jobsRaw.flatMap { j =>
    spanAt(j.start).map { s =>
      val mod = layerOf.getOrElse(siteModule(siteOf(j)), "")
      (j, if (mod.isEmpty || mod == "pipeline") s.layer else mod)
    }
  }

  private val items: Seq[Item] =
    spans.map(s => Item(s.layer, s.start, s.end, isJob = false)) ++
      jobs.map { case (j, ly) => Item(ly, j.start, j.end, isJob = true) }

  /** Per layer: (wall ms, self ms, driver ms). */
  private val times: Map[String, (Double, Double, Double)] = {
    val bounds = items.flatMap(i => Seq(i.start, i.end)).distinct.sorted
    val wall = mutable.Map[String, Double]().withDefaultValue(0.0)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    val driver = mutable.Map[String, Double]().withDefaultValue(0.0)
    bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val active = items.filter(i => i.start <= mid && mid < i.end)
      if (active.nonEmpty) {
        val len = b - a
        active.map(_.layer).distinct.foreach(ly => wall(ly) += len)
        val owner = active.maxBy(i => (i.start, i.isJob))
        self(owner.layer) += len
        if (!active.exists(_.isJob))
          active.map(_.layer).distinct.foreach(ly => driver(ly) += len)
      }
    }
    layers.map(ly => ly -> (wall(ly), self(ly), driver(ly))).toMap
  }

  def layerJobs(ly: String): Seq[JobRec] = jobs.collect { case (j, `ly`) => j }

  /** Wall ms of SQL executions started inside `s` that wrote files
    * under a path containing `under`.
    */
  def writeMsIn(s: Span, under: String = ""): Double = unionMs(execs.values.toSeq
    .filter(e => e.isWrite && e.writePath.contains(under) && e.end >= 0 &&
      e.start >= s.start && e.start <= s.end)
    .map(e => (e.start, e.end)))

  /** Generic fields every layer reports. */
  def generic(ly: String): Seq[(String, Double, String)] = {
    val (w, sf, d) = times(ly)
    val js = layerJobs(ly)
    val ts = js.flatMap(_.stages).distinct.flatMap(tasks.get)
    Seq(
      (s"$ly.wall_s", w / 1000, "s"),
      (s"$ly.self_s", sf / 1000, "s"),
      (s"$ly.driver_s", d / 1000, "s"),
      (s"$ly.jobs", js.length.toDouble, "count"),
      (s"$ly.task_p50_s", pct(ts.flatMap(_.durations), 0.5), "s"),
      (s"$ly.task_max_s", ts.flatMap(_.durations).maxOption.getOrElse(0.0), "s"),
      (s"$ly.shuffle_write_mb", ts.map(_.shuffleWrite).sum / 1e6, "MB"),
      (s"$ly.spill_mb", ts.map(_.spill).sum / 1e6, "MB"))
  }

  /** Records read by the scans of a layer's jobs. */
  def recordsRead(ly: String): Long =
    layerJobs(ly).flatMap(_.stages).distinct.flatMap(tasks.get).map(_.recordsRead).sum

  /** Wall ms of a layer's jobs that ran file writes / did not. */
  def jobMs(ly: String, writes: Boolean): Double = unionMs(layerJobs(ly).filter { j =>
    j.execId.flatMap(execs.get).exists(_.isWrite) == writes
  }.map(j => (j.start, j.end)))

  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }.mkString("[", ",\n", "]")

  def jobsJson: String = jobs.map { case (j, ly) =>
    f"""{"job":${j.id},"layer":"$ly","start_ms":${j.start}%.0f,"end_ms":${j.end}%.0f,"module":"${siteModule(siteOf(j))}"}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
