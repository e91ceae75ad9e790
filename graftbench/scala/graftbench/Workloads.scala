package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.FeatureArray
import graft.hazard.Breslow
import graft.pipeline.{SurveyIntegration, TaylorInference}
import graft.sampling.{Population, Pps}
import graft.weights.Greg

/** `mc_ref`: one Monte-Carlo replicate of the paper's design per op
  * (calib_simu_noninf0315.R). The finite population is generated in
  * set-up; each op draws a PPS cohort and survey sample with
  * seed-derived salts, runs the composed IPSW Taylor chain (propensity
  * fit, inverse-propensity pseudo-weights, weighted Cox fit, β and Λ(t*)
  * with Poisson and PPS variances), GREG-calibrates the combined sample
  * to the population totals and evaluates the Breslow Λ(t*) of the
  * calibrated sample at the chain's β. Only the salts depend on the
  * seed.
  */
final class McRef(opts: Opts) extends Workload {
  // the paper's sizes: N = 300,000, cohort 600, survey 300
  private val PopN = 300000L
  private val NCohort = 600
  private val NSurvey = 300
  // fixed iteration budgets (tol 0), as the m13 catalog chains pin
  // theirs: every replicate submits the same jobs, so op time does not
  // depend on how fast a particular sample converges
  private val PsIters = 4
  private val CoxIters = 4
  private val seed = opts.long("seed")
  private val xs = Seq("x1", "x2", "x3")
  private val psXs = Seq("x1", "x2")
  private val tStar = Seq(5.0, 10.0, 15.0)
  private val a = NSurvey.toDouble / PopN

  private var pop: DataFrame = _
  private var totals: Array[Double] = _

  def setup(spark: SparkSession): Unit = {
    pop = Population.generate(spark, PopN).persist(StorageLevel.MEMORY_AND_DISK)
    val r = pop.agg(count(lit(1)).cast("double"), sum("x1"), sum("x2"), sum("x3")).head()
    totals = Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  // Warm-up replicates use salt streams no timed op uses. The driver's
  // planning and codegen paths are still being JIT-compiled after one
  // replicate (on a 4-core host the next one ran 6-21% slower than the
  // one after it), so two run before the clock starts.
  private val WarmupReplicates = 2
  def warmup(spark: SparkSession, tr: Tracer): Unit =
    (1 to WarmupReplicates).foreach { i =>
      val op = replicate(-i.toLong)
      try op.run(spark, tr) finally op.after(spark)
    }
  def ops: Iterator[Op] = Iterator.from(0).map(k => replicate(k.toLong))
  // a replicate takes longer than a run's time budget; three make a median
  val minOps = 3
  def atBoundary: Boolean = true

  final case class Out(chain: TaylorInference.IpswInference, calibrated: DataFrame,
      calibratedLambda: Seq[(Double, Double)])

  private def replicate(k: Long): Op = new Op {
    val name = s"replicate_$k"
    val family = "mc"
    private var drawn: Seq[DataFrame] = Nil

    def run(spark: SparkSession, tr: Tracer): Any = {
      val (cohort, survey) = tr.span("pps_draw", "sampling") {
        val c = Pps.draw(pop.withColumn("msize", exp(col("x1") * -0.15 + col("x2") * 0.1)),
          col("id"), col("msize"), NCohort, Mix.salt(seed, 1, k)).drop("msize").persist()
        val s = Pps.draw(pop.withColumn("msize", exp(col("x1") * 0.07 + col("x2") * 0.07)),
          col("id"), col("msize"), NSurvey, Mix.salt(seed, 2, k)).drop("msize").persist()
        c.count(); s.count()
        (c, s)
      }
      drawn = Seq(cohort, survey)
      val chain = tr.span("ipsw_chain", "pipeline") {
        TaylorInference.ipswChain(cohort.drop("wt"), survey, col("wt"), col("t"), col("d"),
          xs, psXs, tStar, a = a, psIters = PsIters, coxIters = CoxIters)
      }
      // the combined sample at halved design weights, GREG-calibrated to
      // the population totals of (1, x1, x2, x3) (calib_est's weights)
      val com = SurveyIntegration.stack(cohort, survey, col("wt"))
        .withColumn("halfwt", col("wt") / 2.0)
      val cald = tr.span("greg_calibrate", "weights") {
        val c = Greg.calibrate(com, FeatureArray.withIntercept(xs.map(col)), col("halfwt"), totals)
          .persist()
        c.count()
        c
      }
      drawn :+= cald
      // Λ(t*) of the calibrated sample at the chain's β, as CalibEst
      // evaluates it at its calibrated weights
      val lam = tr.span("breslow", "hazard") {
        val rel = exp(xs.zipWithIndex.map { case (x, j) => col(x) * chain.beta(j) }.reduce(_ + _))
        Breslow.cumulativeHazardAt(cald, col("t"), col("d"), col("greg_wt"), rel, tStar)
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
      }
      Out(chain, cald, lam)
    }

    override def after(spark: SparkSession): Unit = drawn.foreach(_.unpersist(blocking = false))

    private def estimates(o: Out): Seq[(String, Double)] = {
      val c = o.chain
      c.beta.zipWithIndex.map { case (v, j) => s"beta$j" -> v } ++
        c.betaVarPoisson.zipWithIndex.map { case (v, j) => s"var.beta_poisson$j" -> v } ++
        c.betaVarPps.zipWithIndex.map { case (v, j) => s"var.beta_pps$j" -> v } ++
        c.lambda.toSeq.sortBy(_._1).flatMap { case (t, e) => Seq(
          s"lambda@$t" -> e.estimate, s"var.lambda_poisson@$t" -> e.varPoisson,
          s"var.lambda_pps@$t" -> e.varPps) } ++
        o.calibratedLambda.map { case (t, v) => s"lambda_cal@$t" -> v }
    }

    def check(spark: SparkSession, output: Any): Check = {
      val o = output.asInstanceOf[Out]
      val est = estimates(o)
      val bad = est.filter { case (k, v) =>
        v.isNaN || v.isInfinite || (k.startsWith("var.") && v < 0.0) }
      // a cumulative hazard is ≥ 0 and non-decreasing over t*
      val lam = o.calibratedLambda.map(_._2)
      val lamOk = lam.size == tStar.size && lam.head >= 0.0 &&
        lam.zip(lam.tail).forall { case (x, y) => y >= x }
      // the GREG weights must reproduce their auxiliary targets
      val w = col("greg_wt")
      val got = o.calibrated.agg(sum(w), xs.map(x => sum(w * col(x))): _*).head()
      val relErr = totals.indices.map { j =>
        math.abs(got.getDouble(j) - totals(j)) / math.max(math.abs(totals(j)), 1.0) }.max
      Check(bad.isEmpty && lamOk && relErr <= 1e-8,
        s"estimates=${est.size} nonfinite_or_negative_var=[${bad.map(_._1).mkString(",")}] " +
        s"lambda_cal=[${lam.mkString(",")}] " +
        f"greg_aux_rel_err=$relErr%.3e")
    }

    def digest(output: Any): String = Digest.estimates(estimates(output.asInstanceOf[Out]))
  }
}

/** `catalog`: one `SparkEntry.queries` entry per op on the committed
  * relational tables, collected. The query list is fixed by the run
  * configuration; only its order is drawn from the seed. Timed passes
  * always complete, so every query is sampled equally often.
  */
final class Catalog(opts: Opts) extends Workload {
  private val seed = opts.long("seed")
  private val dataDir = opts("data")
  private val names: Seq[String] = opts("queries").split(",").toSeq
  private val expected: Map[String, (Long, String)] = {
    val p = opts("expected")
    if (p == "-") Map.empty
    else {
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(n, rows, dg) = l.split("\t")
        n -> (rows.toLong, dg)
      }.toMap finally src.close()
    }
  }
  private val catalog = graft.SparkEntry.queries
  private val checked = graft.SparkEntry.oracleSql.keySet

  // resolves every table (file listing, footer schema) in the session
  def setup(spark: SparkSession): Unit =
    graft.core.Tables.names.foreach { n =>
      (if (n == "events") graft.core.Tables.events(spark, dataDir)
       else graft.core.Tables(spark, dataDir, n)).schema
    }

  private val rng = new scala.util.Random(Mix(seed))
  private def pass(): Seq[String] = rng.shuffle(names)
  private var inPass = 0

  def warmup(spark: SparkSession, tr: Tracer): Unit = pass().foreach { n =>
    val op = query(n)
    try op.run(spark, tr) finally op.after(spark)
  }

  def ops: Iterator[Op] = Iterator.continually(pass()).flatMap { p =>
    p.iterator.zipWithIndex.map { case (n, i) => inPass = i + 1; query(n) }
  }
  val minOps = 1
  def atBoundary: Boolean = inPass == 0 || inPass == names.size

  /** Query-name prefix up to its first digit or underscore. */
  private def family(n: String): String = n.takeWhile(c => c.isLetter)

  final case class Out(columns: Seq[String], rows: Array[Row])

  private def query(n: String): Op = new Op {
    val name = n
    val family = Catalog.this.family(n)
    def run(spark: SparkSession, tr: Tracer): Any = {
      // the plan a QueryDef returns is graft.relational's, whichever
      // modules its build called into
      val df = tr.span("query_build", "relational") { catalog(n)(spark, dataDir) }
      val rows = tr.span("query_collect", "relational") { df.collect() }
      Out(df.columns.toSeq, rows)
    }
    // residual caches of iterative queries would pile up across ops
    override def after(spark: SparkSession): Unit = spark.catalog.clearCache()
    def check(spark: SparkSession, output: Any): Check = {
      val o = output.asInstanceOf[Out]
      expected.get(n) match {
        case None => Check(false, "no expected result recorded")
        case Some((rows, dg)) =>
          if (o.rows.length != rows) Check(false, s"rows ${o.rows.length} != expected $rows")
          else if (checked(n) && digest(o) != dg) Check(false, "digest differs from expected")
          else Check(true, if (checked(n)) "digest" else "rows")
      }
    }
    override def rows(output: Any): Long = output.asInstanceOf[Out].rows.length.toLong
    def digest(output: Any): String = {
      val o = output.asInstanceOf[Out]
      if (checked(n)) Digest.rows(o.columns, o.rows) else s"rows=${o.rows.length}"
    }
  }
}
