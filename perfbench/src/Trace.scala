package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One span: a call the benchmark made into a layer (build, plan, exec, fit,
  * transform), with the Spark jobs that ran inside it as its children. */
final class Span(val kind: String, val op: String, val startMs: Long) {
  var endMs: Long = startMs
  var wallS: Double = 0.0
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (jobId, start, end) wall ms

  /** Span time not covered by its child jobs (the driver-side share). */
  def selfS: Double = {
    val iv = jobs.map { case (_, s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    (wallS - covered / 1000.0) max 0.0
  }
}

/** SparkListener that attributes jobs, stages and task metrics to the
  * benchmark's current span. The loop is closed with one client, and the
  * listener bus is drained at every span end, so every event processed
  * while a span is open was caused by it. Stage wall time is keyed by the
  * first `graft.` frame of the stage's creation site (`ops.Dedup`,
  * `sources.Writer`, `core.Stats`, ...), else by the graft source file that
  * created one of its RDDs, else `spark.unattributed`. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var current: Span = _
  private val jobStart = mutable.Map.empty[Int, (Long, Span)]
  /** Counters of the pass being traced, by per-layer metric name. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val stageLog = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def add(k: String, v: Double): Unit = synchronized { counters(k) += v }

  def reset(): Unit = synchronized {
    counters.clear(); spans.clear(); stageLog.clear()
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def open(kind: String, op: String): Span = {
    drain()
    val s = new Span(kind, op, System.currentTimeMillis())
    current = s
    s
  }

  def close(s: Span, wallS: Double): Unit = {
    drain()
    s.endMs = System.currentTimeMillis()
    s.wallS = wallS
    current = null
    synchronized { spans += s }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, current)
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, span) =>
      if (span != null) span.jobs += ((e.jobId, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1000.0
    val m = i.taskMetrics
    val key = Tracer.stageKey(i)
    add(s"$key.stage_s", wall)
    add("spark.stages", 1)
    add("spark.tasks", i.numTasks)
    val sw = m.shuffleWriteMetrics
    if (sw.bytesWritten > 0 || sw.recordsWritten > 0) add("spark.shuffle_stages", 1)
    val mb = 1024.0 * 1024.0
    add("spark.input_mb", m.inputMetrics.bytesRead / mb)
    add("spark.output_mb", m.outputMetrics.bytesWritten / mb)
    add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
    add("spark.shuffle_write_mb", sw.bytesWritten / mb)
    add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
    synchronized {
      stageLog += scala.collection.immutable.ListMap(
        "stage" -> i.stageId, "key" -> key, "site" -> i.name, "wall_s" -> wall,
        "tasks" -> i.numTasks, "span" -> Option(current).map(s => s"${s.kind}:${s.op}").getOrElse(""))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_gc_s", m.jvmGCTime / 1000.0)
      val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val out = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (in == 0 && out == 0) add("spark.empty_tasks", 1)
      add("spark.ended_tasks", 1)
    }
  }
}

object Tracer {
  private val Layers = Seq("ops", "sources", "sources/warc", "functions",
    "transformers", "core", "streaming", "")

  /** `graft.ops.Dedup$.materialize(Dedup.scala:242)` → `ops.Dedup`;
    * `graft.SparkEntry$.flooredRead(...)` → `SparkEntry`. */
  def frameKey(frame: String): String = {
    val qualified = frame.takeWhile(_ != '(')
    val cls = qualified.substring(0, qualified.lastIndexOf('.') max 0)
    val parts = cls.split('.')
    val simple = parts.last.takeWhile(_ != '$')
    if (parts.length >= 3) s"${parts(1)}.$simple" else simple
  }

  private val fileKeys = mutable.Map.empty[String, Option[String]]

  /** `Dedup.scala` → `ops.Dedup`, found by where the class file of the same
    * name sits in the graft package tree. */
  def fileKey(file: String): Option[String] = fileKeys.synchronized {
    fileKeys.getOrElseUpdate(file, {
      val stem = file.stripSuffix(".scala")
      val loader = getClass.getClassLoader
      Layers.find { l =>
        val dir = if (l.isEmpty) "graft/" else s"graft/$l/"
        loader.getResource(s"$dir$stem.class") != null ||
          loader.getResource(s"$dir$stem$$.class") != null
      }.map(l => if (l.isEmpty) stem else s"${l.takeWhile(_ != '/')}.$stem")
    })
  }

  private val SiteFile = """ at ([A-Za-z0-9_]+\.scala):\d+""".r.unanchored

  def stageKey(i: StageInfo): String =
    i.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map(frameKey)
      .orElse(i.rddInfos.iterator.map(_.callSite).collectFirst {
        case SiteFile(f) if fileKey(f).isDefined => fileKey(f).get
      })
      .getOrElse("spark.unattributed")
}
