package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The calls into the library, timed from outside; in a traced pass each
  * call is also a span that owns the Spark jobs it caused. */
final class Harness(val spark: SparkSession, val dir: String, val seed: Long, val tracer: Tracer) {
  val registry: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  var tracing = false
  /** Digests of the warm-up pass, the reference for later passes when the
    * seed has no committed digests. */
  val warmupResults = mutable.ArrayBuffer.empty[OpResult]

  def span[T](kind: String, op: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = tracer.open(kind, op)
      val t0 = System.nanoTime()
      try body finally tracer.close(s, (System.nanoTime() - t0) / 1e9)
    }

  /** Times one operation; a throw is a failed operation, never a latency. */
  def op(name: String)(body: => Digest.Acc): OpResult = {
    val t0 = System.nanoTime()
    try {
      val d = body
      OpResult(name, (System.nanoTime() - t0) / 1e6, Some(d.toString))
    } catch {
      case e: Throwable =>
        OpResult(name, (System.nanoTime() - t0) / 1e6, None,
          (e.toString + Option(e.getCause).map(" / " + _).getOrElse("")).take(300))
    }
  }

  /** One untimed pass: builds the per-JVM fixtures the queries create
    * lazily, fills Spark's code-generation cache and JIT-compiles the path. */
  def warmup(w: Workload): Unit = warmupResults ++= w.pass(this)
}

object Main {
  val DefaultSeed = 1L
  /** No pass starts that would end after this many seconds of the run, so
    * the JVM exits well inside run.py's 170 s limit. */
  val HardStopS = 145.0

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def median(xs: Seq[Double]): Double = quantile(xs, 50.0)

  /** Linear-interpolation percentile (numpy's default). */
  def quantile(xs: Seq[Double], pct: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * pct / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Old-generation occupancy after full GCs. Spark's ContextCleaner drops
    * the blocks of unreachable RDDs (local checkpoints) only after a GC has
    * found them, so one GC reads anywhere between ~100 and ~540 MB on
    * curation; collecting until the reading stops falling removes that. */
  private def oldGenMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed / 1024.0 / 1024.0).sum
    }
    var last = afterGc()
    var cur = last
    var i = 0
    while (i == 0 || (cur < last - 1.0 && i < 4)) {
      last = cur
      Thread.sleep(200)
      cur = afterGc()
      i += 1
    }
    cur
  }

  def json(v: Any): String = v match {
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case None => "null"
    case Some(x) => json(x)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** Committed digests: `<workload> <seed> <op> <digest>` per line. */
  private def readDigests(path: Path, workload: String, seed: Long): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.map(_.trim.split("\\s+")).collect {
      case Array(`workload`, s, op, d) if s == seed.toString => op -> d
    }.toMap

  private def recordDigests(path: Path, workload: String, seed: Long, ops: Seq[OpResult]): Unit = {
    val kept = if (Files.exists(path))
      Files.readAllLines(path).asScala.filterNot(_.startsWith(s"$workload $seed ")).toSeq
    else Seq.empty
    val mine = ops.flatMap(o => o.digest.map(d => s"$workload $seed ${o.name} $d")).distinct
    Files.write(path, (kept ++ mine).sorted.asJava)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = Workloads.all.find(w => arg(args, "--workload").contains(w.name))
      .getOrElse(sys.error(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(DefaultSeed)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(20.0)
    val trace = arg(args, "--trace").contains("1")
    val source = arg(args, "--source").getOrElse(sys.error("--source <dir> is required"))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work <dir> is required")))
    val digestFile = Paths.get(arg(args, "--digests").getOrElse(sys.error("--digests <file> is required")))
    val report = arg(args, "--report").map(Paths.get(_))
    val record = args.contains("--record")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tg = System.nanoTime()
    val dir = work.resolve("inputs").toString
    Inputs.generate(spark, source, dir, seed, workload.tables)
    val inputsS = (System.nanoTime() - tg) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    val h = new Harness(spark, dir, seed, tracer)
    if (trace) { spark.sparkContext.addSparkListener(tracer); h.tracing = true }
    val ts = System.nanoTime()
    workload.setup(h)
    val setupWorkS = (System.nanoTime() - ts) / 1e9
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupSpans = tracer.spans.toList
    if (trace) {
      h.tracing = false
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      tracer.reset()
    }

    // ---- measured passes: closed loop, one client ----
    final case class Pass(traced: Boolean, s: Double, ops: Seq[OpResult],
        layers: Map[String, Double], spans: Seq[Span], stages: Seq[Map[String, Any]], var heapMb: Double = 0.0)
    val passes = mutable.ArrayBuffer.empty[Pass]
    var heapPeak = 0.0
    val tm = System.nanoTime()
    def elapsed = (System.nanoTime() - tm) / 1e9
    def sinceStart = (System.nanoTime() - t0) / 1e9
    def untraced = passes.filterNot(_.traced)
    def measuredOps = untraced.map(_.ops.size).sum
    def wantMore: Boolean =
      if (passes.isEmpty) true
      else {
        val last = passes.last.s
        val enough = if (trace) passes.size % 4 == 0 && elapsed >= seconds
                     else measuredOps >= workload.minOps && elapsed + last / 2 >= seconds
        !enough && sinceStart + last < HardStopS
      }
    while (wantMore) {
      // a traced run interleaves untraced and traced passes in ABBA blocks,
      // so the tracing overhead is measured on the same JVM, inputs and
      // moment, and a warm-up trend cancels out
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      if (traced) { spark.sparkContext.addSparkListener(tracer); tracer.reset(); h.tracing = true }
      val tp = System.nanoTime()
      val ops = workload.pass(h)
      val s = (System.nanoTime() - tp) / 1e9
      val (layers, spans, stages) =
        if (!traced) (Map.empty[String, Double], Seq.empty[Span], Seq.empty[Map[String, Any]])
        else {
          h.tracing = false
          tracer.drain()
          spark.sparkContext.removeSparkListener(tracer)
          tracer.synchronized((tracer.counters.toMap, tracer.spans.toList, tracer.stageLog.toList))
        }
      passes += Pass(traced, s, ops, layers, spans, stages)
      passes.last.heapMb = oldGenMb()
      heapPeak = heapPeak max passes.last.heapMb
    }

    // ---- correctness: every digest reproduces; committed ones must match ----
    val committed = readDigests(digestFile, workload.name, seed)
    val firstSeen = h.warmupResults.flatMap(o => o.digest.map(o.name -> _)).toMap
    val allOps = h.warmupResults.toSeq ++ passes.flatMap(_.ops)
    def expected(op: String): Option[String] = committed.get(op).orElse(firstSeen.get(op))
    val failures = allOps.filter(o => o.digest.isEmpty || o.digest != expected(o.name))
    val missingCommitted = seed == DefaultSeed && !record && committed.isEmpty
    if (record && failures.isEmpty) recordDigests(digestFile, workload.name, seed, h.warmupResults.toSeq)

    // ---- metrics ----
    val opMs = untraced.flatMap(_.ops.map(_.ms)).toSeq
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(untraced.map(_.s).toSeq), "s"),
      ("batch_p50_ms", median(opMs), "ms"),
      ("batch_tail_ms", quantile(opMs, workload.tailPct), "ms"),
      ("heap_peak_mb", heapPeak, "MB"))
    val layerMetrics: Seq[(String, Double, String)] =
      if (!trace) Seq.empty else Layers.metrics(passes.filter(_.traced).map(p => (p.s, p.layers, p.spans)).toSeq,
        setupSpans, median(untraced.map(_.s).toSeq))
    val metrics = if (trace) layerMetrics else endToEnd

    val loadavg = Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    report.foreach { rp =>
      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> workload.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
        "source" -> source, "seconds" -> seconds,
        "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "workload_setup_s" -> setupWorkS, "total_s" -> setupS),
        "warmup_ops" -> h.warmupResults.map(o => mutable.LinkedHashMap("op" -> o.name, "ms" -> o.ms, "digest" -> o.digest)),
        "tail_percentile" -> workload.tailPct, "op_samples" -> opMs.size,
        "passes" -> passes.map(p => mutable.LinkedHashMap("traced" -> p.traced, "s" -> p.s, "heap_mb" -> p.heapMb,
          "ops" -> p.ops.map(o => mutable.LinkedHashMap("op" -> o.name, "ms" -> o.ms, "digest" -> o.digest, "error" -> o.error)))),
        "within_run_spread" -> (if (untraced.size > 1) untraced.map(_.s).max / untraced.map(_.s).min else 1.0),
        "failures" -> failures.map(o => mutable.LinkedHashMap("op" -> o.name, "digest" -> o.digest,
          "expected" -> expected(o.name), "error" -> o.error)),
        "digests_committed" -> committed.nonEmpty, "loadavg_after_jvm" -> loadavg,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
      if (trace) {
        detail("spans") = passes.filter(_.traced).flatMap(_.spans).map(s => mutable.LinkedHashMap(
          "kind" -> s.kind, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "wall_s" -> s.wallS, "self_s" -> s.selfS,
          "jobs" -> s.jobs.map { case (j, a, b) => Map("job" -> j, "start_ms" -> a, "end_ms" -> b) }))
        detail("stages") = passes.filter(_.traced).flatMap(_.stages)
      }
      Files.createDirectories(rp.getParent)
      Files.writeString(rp, json(detail) + "\n")
    }
    failures.take(5).foreach(f => System.err.println(s"[perfbench] FAILED ${f.name}: ${f.error} digest=${f.digest} expected=${expected(f.name)}"))
    if (missingCommitted) System.err.println(s"[perfbench] no committed digests for ${workload.name} seed $seed")
    spark.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> (failures.isEmpty && !missingCommitted),
      "attempted" -> allOps.size,
      "failed" -> failures.size,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    println(json(out))
  }
}
