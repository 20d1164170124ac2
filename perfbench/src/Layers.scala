package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: each traced pass gives one value per
  * metric, and the run reports the median over its traced passes. */
object Layers {
  /** The calls the benchmark makes into each layer. */
  val SpanKinds = Seq("SparkEntry.build", "spark.plan", "spark.exec",
    "transformers.fit", "transformers.transform", "batch.build")

  private def median(xs: Seq[Double]): Double = Main.quantile(xs, 50.0)

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac")) "fraction"
    else "count"

  /** Span totals, self times and job counts of one pass, plus the tracer's
    * job/stage/task counters. Plan and transform are per-call medians (ms);
    * everything else is a total over the pass. */
  def perPass(counters: Map[String, Double], spans: Seq[Span]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double] ++ counters
    SpanKinds.foreach { k =>
      val ss = spans.filter(_.kind == k)
      m(s"${k}_s") = ss.map(_.wallS).sum
      m(s"${k}_self_s") = ss.map(_.selfS).sum
      m(s"${k}_jobs") = ss.map(_.jobs.size).sum.toDouble
      m(s"${k}_calls") = ss.size.toDouble
    }
    def callMs(k: String) = {
      val xs = spans.filter(_.kind == k).map(_.wallS * 1000)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    m("spark.plan_ms") = callMs("spark.plan")
    m("transformers.transform_ms") = callMs("transformers.transform")
    val ended = m.getOrElse("spark.ended_tasks", 0.0)
    m("spark.empty_task_frac") = if (ended == 0) 0.0 else m.getOrElse("spark.empty_tasks", 0.0) / ended
    m.toMap
  }

  /** Median over passes of every metric any pass produced (absent → 0). */
  def all(passes: Seq[Map[String, Double]]): Map[String, Double] = {
    val keys = passes.flatMap(_.keys).distinct
    keys.map(k => k -> median(passes.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** Every per-layer metric of the run. A workload that fits only in set-up
    * (fe_score) reports that fit as its `transformers.fit_*`.
    * `trace.overhead_s` is the median traced pass minus the median untraced
    * pass of the same run. */
  def metrics(
      traced: Seq[(Double, Map[String, Double], Seq[Span])],
      setupSpans: Seq[Span],
      untracedPassS: Double): Seq[(String, Double, String)] = {
    val byPass = traced.map { case (_, c, s) => perPass(c, s) }
    val med = mutable.Map.empty[String, Double] ++ all(byPass)
    val setupFit = setupSpans.filter(_.kind == "transformers.fit")
    if (med.getOrElse("transformers.fit_calls", 0.0) == 0 && setupFit.nonEmpty) {
      med("transformers.fit_s") = setupFit.map(_.wallS).sum
      med("transformers.fit_self_s") = setupFit.map(_.selfS).sum
      med("transformers.fit_jobs") = setupFit.map(_.jobs.size).sum.toDouble
      med("transformers.fit_calls") = setupFit.size.toDouble
    }
    val tracedS = median(traced.map(_._1))
    med("trace.overhead_s") = tracedS - untracedPassS
    med("trace.overhead_frac") = (tracedS - untracedPassS) / untracedPassS
    med.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unit(k)) }
  }
}
