package perfbench

import graft.core.Pipeline
import graft.transformers._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation's outcome: its name, latency and output digest
  * (None when it threw). */
final case class OpResult(name: String, ms: Double, digest: Option[String], error: String = "")

/** A workload: the tables it needs, its set-up, and one pass of operations.
  * Every call into the library goes through the harness's `span`, which
  * times it from outside and, in a traced run, attributes its Spark jobs. */
abstract class Workload(val name: String) {
  def tables: Seq[String]
  /** Operations a run completes at least, in whole passes. */
  def minOps: Int
  /** Percentile reported as `batch_tail_ms`: the highest one with ten
    * samples beyond it at `minOps` samples. Fixed per workload, so every run
    * reports the same percentile. */
  def tailPct: Double = 100.0 * (1.0 - 10.0 / minOps)
  def setup(h: Harness): Unit
  def pass(h: Harness): Seq[OpResult]
}

object Workloads {

  /** The 47 feature-engineering registry queries: every query of the
    * imputation, encoding, discretization, outlier, numerical, scaling,
    * creation, datetime and selection families. */
  val FeQueries: Seq[String] = Seq(
    "imp_mean", "imp_median", "imp_arbitrary", "imp_endtail", "imp_categorical",
    "imp_missing_indicator", "imp_drop_missing",
    "cat_onehot", "cat_count_frequency", "cat_count_frequency_hc", "cat_ordinal",
    "cat_mean", "cat_woe", "cat_rare_label", "cat_mean_loo",
    "disc_arbitrary", "disc_equal_frequency", "disc_equal_width", "disc_geometric_width",
    "out_cap_arbitrary", "out_winsorizer", "out_trimmer",
    "num_log", "num_log_cp", "num_reciprocal", "num_power", "num_boxcox",
    "num_yeojohnson", "num_arcsin",
    "scale_standard", "scale_minmax", "scale_robust",
    "creation_math", "creation_relative", "creation_cyclical",
    "dt_features", "dt_subtraction",
    "sel_drop_features", "sel_drop_constant", "sel_drop_duplicate",
    "sel_drop_correlated", "sel_smart_correlated", "sel_psi",
    "sel_information_value", "sel_single_feature_perf",
    "sel_target_mean_perf", "sel_mrmr")

  /** The LLM-data curation path: WARC text and HTML extraction, Gopher
    * filtering, language ID, PII redaction, exact / MinHash / seen-key
    * dedup, link-graph domain centrality and a compressed WET export. */
  val CurationQueries: Seq[String] = Seq(
    "warc_extract", "warc_html_extract", "text_gopher_filter", "text_langid",
    "text_pii_redact", "dedup_exact", "dedup_minhash", "dedup_key_seen",
    "warc_domain_centrality", "sink_wet_export_gz")

  /** The ~training frame: lineitem with nulls injected into the quantity. */
  def trainFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")).as("qty"),
      col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_shipdate"))

  /** impute → missing indicator → one-hot → count-frequency → equal-frequency
    * discretize → winsorize → log → Yeo-Johnson → standard scale →
    * cyclical → datetime. */
  def pipeline(): Pipeline = Pipeline(
    "impute" -> new MeanMedianImputer(Seq("qty"), "mean"),
    "indicator" -> new AddMissingIndicator(Seq("qty")),
    "onehot" -> new OneHotEncoder(Seq("l_returnflag")),
    "countfreq" -> new CountFrequencyEncoder(Seq("l_linestatus")),
    "eqfreq" -> new EqualFrequencyDiscretizer(Seq("l_tax"), 4),
    "winsor" -> new Winsorizer(Seq("l_extendedprice"), 0.05, 0.95),
    "log" -> new LogTransformer(Seq("l_extendedprice")),
    "yeojohnson" -> new YeoJohnsonTransformer(Seq("l_discount"), 0.5),
    "scale" -> new StandardScaler(Seq("qty", "l_extendedprice")),
    "cyclical" -> new CyclicalFeatures(Seq(
      ("line_sin", "l_linenumber", 7.0, CyclicalFn.Sin),
      ("line_cos", "l_linenumber", 7.0, CyclicalFn.Cos))),
    "datetime" -> new DatetimeFeatures(Seq("l_shipdate")))

  /** Seeded scoring batches: `n` contiguous slices of the (seed-permuted)
    * training rows, held on the driver so that a request builds its frame
    * in memory. */
  final class Batches(spark: SparkSession, dir: String, n: Int, size: Int, seed: Long) {
    private val frame = trainFrame(spark, dir)
    val schema = frame.schema
    private val pool: Array[Row] = frame.collect()
    private val rng = new scala.util.Random(seed)
    val slices: IndexedSeq[java.util.List[Row]] = (0 until n).map { _ =>
      val from = rng.nextInt(pool.length - size)
      java.util.Arrays.asList(pool.slice(from, from + size): _*)
    }
    def frameOf(i: Int): DataFrame = spark.createDataFrame(slices(i), schema)
  }

  def queryOp(h: Harness, q: String): OpResult = h.op(q) {
    val df = h.span("SparkEntry.build", q) { h.registry(q)(h.spark, h.dir) }
    h.span("spark.plan", q) { df.queryExecution.executedPlan }
    h.span("spark.exec", q) { Digest.ofPlan(df) }
  }

  /** One scoring request: batch in memory → Pipeline.transform → plan →
    * collect. The digest of the collected rows is taken outside the timer. */
  def scoreOp(h: Harness, fitted: Pipeline, batches: Batches, i: Int): OpResult = {
    var out: (Array[Row], org.apache.spark.sql.types.StructType) = null
    val r = h.op(s"score_$i") {
      val batch = h.span("batch.build", s"score_$i") { batches.frameOf(i) }
      val scored = h.span("transformers.transform", s"score_$i") { fitted.transform(batch) }
      h.span("spark.plan", s"score_$i") { scored.queryExecution.executedPlan }
      out = (h.span("spark.exec", s"score_$i") { scored.collect() }, scored.schema)
      Digest.Zero
    }
    if (r.digest.isEmpty) r
    else r.copy(digest = Some(Digest.ofRows(out._1, out._2).toString))
  }

  object FeFit extends Workload("fe_fit") {
    val tables = Seq("lineitem", "orders", "part")
    val minOps = FeQueries.size + 1
    private var holdout: Batches = _
    def setup(h: Harness): Unit = {
      holdout = new Batches(h.spark, h.dir, 1, 2000, h.seed)
      h.warmup(this)
    }
    /** All FE registry queries, then one fit of the 11-step pipeline on the
      * training frame and the scoring of a held-out batch with it. */
    def pass(h: Harness): Seq[OpResult] =
      FeQueries.map(queryOp(h, _)) :+ {
        val p = pipeline()
        val fitOp = h.op("pipeline_fit") {
          h.span("transformers.fit", "pipeline_fit") { p.fit(trainFrame(h.spark, h.dir)) }
          Digest.Zero
        }
        if (fitOp.digest.isEmpty) fitOp
        else {
          val s = scoreOp(h, p, holdout, 0)
          OpResult("pipeline_fit", fitOp.ms + s.ms, s.digest, s.error)
        }
      }
  }

  object FeScore extends Workload("fe_score") {
    val tables = Seq("lineitem")
    val PerPass = 20
    val minOps = 3 * PerPass
    private var fitted: Pipeline = _
    private var batches: Batches = _
    def setup(h: Harness): Unit = {
      batches = new Batches(h.spark, h.dir, PerPass, 2000, h.seed)
      fitted = pipeline()
      h.span("transformers.fit", "setup_fit") { fitted.fit(trainFrame(h.spark, h.dir)) }
      h.warmup(this)
    }
    def pass(h: Harness): Seq[OpResult] = (0 until PerPass).map(scoreOp(h, fitted, batches, _))
  }

  object Curation extends Workload("curation") {
    val tables = Seq("documents")
    val minOps = 2 * CurationQueries.size
    def setup(h: Harness): Unit = h.warmup(this)
    def pass(h: Harness): Seq[OpResult] = CurationQueries.map(queryOp(h, _))
  }

  val all: Seq[Workload] = Seq(FeFit, FeScore, Curation)
}
