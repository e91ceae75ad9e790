package graft

import graft.pipeline.TaylorInference
import org.apache.spark.sql.functions._

/** End-to-end validation of the composed Taylor-inference IPSW chain
  * (taylor_deviate.R:38-236): the engine's Poisson/PPS variances must
  * equal the same contractions applied to FINITE-DIFFERENCE deviates
  * dθ/dm_i computed by refitting the ENTIRE chain (logistic γ → IPSW →
  * Cox β → hazards) per unit-multiplicity perturbation — γ-chain,
  * β-chain and survey-side γ-only blocks all validated at once through
  * the public API.
  */
class TaylorInferenceSpec extends SparkSpec {
  import spark.implicits._

  // cohort (t, d, x) and survey (t, d, x, wt)
  private val coh = Seq(
    (1.0, 1.0, 0.5), (1.0, 1.0, -0.2), (2.0, 1.0, 1.0), (2.0, 0.0, 0.3),
    (3.0, 1.0, -0.5), (4.0, 0.0, 0.8), (5.0, 1.0, 1.2), (6.0, 0.0, -1.0))
  private val svy = Seq(
    (2.0, 1.0, 0.9, 2.0), (3.0, 0.0, -0.7, 3.0), (4.0, 1.0, 0.2, 2.5),
    (5.0, 0.0, 1.5, 1.5), (1.0, 1.0, -1.2, 4.0))
  private val nC = coh.length; private val nS = svy.length
  private val n = nC + nS
  private val aFrac = 0.5
  private val tStar = Seq(2.0, 4.0, 6.0)
  private val lsGrid = Seq((0.5, 0.02), (1.7, 0.05), (2.5, 0.04),
    (3.0, 0.06), (4.5, 0.05), (5.5, 0.07))
  private val x0 = Array(0.4)

  // unit k: 0..nC-1 cohort, nC..n-1 survey
  private val xAll = (coh.map(_._3) ++ svy.map(_._3)).toArray
  private val yTrt = (Seq.fill(nC)(1.0) ++ Seq.fill(nS)(0.0)).toArray
  private val wBase = (Seq.fill(nC)(1.0) ++ svy.map(_._4 * aFrac)).toArray
  private val tC = coh.map(_._1).toArray
  private val dC = coh.map(_._2).toArray
  private val xC = coh.map(_._3).toArray

  /** weighted logistic [1,x] via IRLS. */
  private def logisticFit(m: Array[Double]): (Double, Double) = {
    var g0 = 0.0; var g1 = 0.0
    for (_ <- 1 to 100) {
      var h00 = 0.0; var h01 = 0.0; var h11 = 0.0; var s0 = 0.0; var s1 = 0.0
      for (k <- 0 until n) {
        val w = m(k) * wBase(k)
        val mu = 1.0 / (1.0 + math.exp(-(g0 + g1 * xAll(k))))
        h00 += w * mu * (1 - mu); h01 += w * mu * (1 - mu) * xAll(k)
        h11 += w * mu * (1 - mu) * xAll(k) * xAll(k)
        s0 += w * (yTrt(k) - mu); s1 += w * (yTrt(k) - mu) * xAll(k)
      }
      val det = h00 * h11 - h01 * h01
      g0 += (h11 * s0 - h01 * s1) / det
      g1 += (h00 * s1 - h01 * s0) / det
    }
    (g0, g1)
  }

  private def coxBeta(w: Array[Double]): Double = {
    var b = 0.0
    for (_ <- 1 to 80) {
      val rh = xC.map(x => math.exp(b * x))
      var u = 0.0; var i2 = 0.0
      for (ut <- tC.distinct.sorted
           if tC.indices.exists(i => tC(i) == ut && dC(i) == 1)) {
        val at = tC.indices.filter(i => tC(i) >= ut)
        val s0 = at.map(i => w(i) * rh(i)).sum
        val s1 = at.map(i => w(i) * rh(i) * xC(i)).sum
        val s2 = at.map(i => w(i) * rh(i) * xC(i) * xC(i)).sum
        val ev = tC.indices.filter(i => tC(i) == ut && dC(i) == 1)
        u += ev.map(i => w(i) * xC(i)).sum - ev.map(w(_)).sum * s1 / s0
        i2 += ev.map(w(_)).sum * (s2 / s0 - s1 * s1 / (s0 * s0))
      }
      b += u / i2
    }
    b
  }

  private def lambdaAr(w: Array[Double], b: Double) = {
    val rh = xC.map(x => math.exp(b * x))
    val u = tC.indices.filter(i => dC(i) == 1).map(tC(_)).distinct.sorted
    u.map { ut =>
      val nt = tC.indices.filter(i => tC(i) == ut && dC(i) == 1).map(w(_)).sum
      val zt = tC.indices.filter(i => tC(i) >= ut).map(i => w(i) * rh(i)).sum
      val yt = tC.indices.filter(i => tC(i) >= ut).map(w(_)).sum
      (ut, nt / zt, 1.0 - yt / zt)
    }
  }

  /** full chain: multiplicities → γ → ipsw → β → estimands at ts. */
  private def chain(m: Array[Double]): Map[(String, Double), Double] = {
    val (g0, g1) = logisticFit(m)
    val ipsw = (0 until nC).map(i =>
      math.exp(-(g0 + g1 * xC(i))) / aFrac).toArray
    val w = (0 until nC).map(i => m(i) * ipsw(i)).toArray
    val b = coxBeta(w)
    val la = lambdaAr(w, b)
    val out = scala.collection.mutable.Map.empty[(String, Double), Double]
    for (ts <- tStar) {
      val lam = la.filter(_._1 <= ts).map(_._2).sum
      out(("Lambda", ts)) = lam
      val gail = lsGrid.filter(_._1 <= ts).map { case (s, ls) =>
        val ev = la.filter(_._1 <= s)
        ls * (1.0 - (if (ev.isEmpty) 0.0 else ev.last._3))
      }.sum
      out(("Gail", ts)) = gail
      out(("absR", ts)) = 1.0 - math.exp(-lam * math.exp(x0(0) * b))
      out(("absRG", ts)) = 1.0 - math.exp(-gail * math.exp(x0(0) * b))
    }
    out(("beta", 0.0)) = b
    out.toMap
  }

  test("composed KW chain variances equal FD-deviate contractions") {
    val hFix = 0.6
    val inf = TaylorInference.kwChain(
      coh.toDF("t", "d", "x"), svy.toDF("t", "d", "x", "wt"), col("wt"),
      col("t"), col("d"), Seq("x"), Seq("x"), tStar,
      a = aFrac, bandwidth = Some(hFix),
      sizeHint = graft.core.Windows.SizeHint.Small)

    // driver-side chain: γ(m) → kernel weights (h fixed, structure at
    // base multiplicities — the reference linearizes through γ only) →
    // β → Λ(t*)
    def kw(gamma: (Double, Double)): Array[Double] = {
      val (g0, g1) = gamma
      val qc = (0 until nC).map(i => g0 + g1 * xC(i))
      val qs = (nC until n).map(k => g0 + g1 * xAll(k))
      (0 until nC).map { c =>
        (0 until nS).map { s =>
          val u = (qs(s) - qc(c)) / hFix
          val k = math.exp(-u * u / 2) / math.sqrt(2 * math.Pi)
          val row = (0 until nC).map { c2 =>
            val u2 = (qs(s) - qc(c2)) / hFix
            math.exp(-u2 * u2 / 2) / math.sqrt(2 * math.Pi)
          }.sum
          svy(s)._4 * k / row
        }.sum
      }.toArray
    }
    def chainKw(m: Array[Double]): Map[(String, Double), Double] = {
      val g = logisticFit(m)
      val kwW = kw(g)
      val w = (0 until nC).map(i => m(i) * kwW(i)).toArray
      val b = coxBeta(w)
      val la = lambdaAr(w, b)
      (tStar.map { ts =>
        ("Lambda", ts) -> la.filter(_._1 <= ts).map(_._2).sum
      } :+ (("beta", 0.0) -> b)).toMap
    }
    val m1 = Array.fill(n)(1.0)
    val base = chainKw(m1)
    assertNear(inf.beta(0), base(("beta", 0.0)), 1e-7)
    for (ts <- tStar)
      assertNear(inf.lambda(ts).estimate, base(("Lambda", ts)), 1e-7)

    val eps = 1e-6
    val fd = (0 until n).map { k =>
      val mp = m1.clone(); mp(k) += eps
      val mm = m1.clone(); mm(k) -= eps
      val cp = chainKw(mp); val cm = chainKw(mm)
      cp.keys.map(key => key -> (cp(key) - cm(key)) / (2 * eps)).toMap
    }
    val (g0, g1) = logisticFit(m1)
    val pi = (0 until n).map { k =>
      if (k < nC) aFrac * math.exp(g0 + g1 * xC(k)) else 1.0 / svy(k - nC)._4
    }
    def vPois(key: (String, Double)) =
      (0 until n).map(k => (1.0 - pi(k)) * fd(k)(key) * fd(k)(key)).sum
    assertNear(inf.betaVarPoisson(0), vPois(("beta", 0.0)), 1e-4)
    for (ts <- tStar)
      assertNear(inf.lambda(ts).varPoisson, vPois(("Lambda", ts)), 1e-4)
  }

  test("kwChain is invariant to colliding unit ids") {
    // The reference addresses units by row index, so id uniqueness is
    // not part of its contract and the chain takes no id; a regression
    // here means some stage fanned a join out on an id column the
    // frames carry and double-counted pseudo-weight mass (the synthetic
    // lineitem has duplicate (orderkey, linenumber) pairs, which is how
    // this surfaced).
    val hFix = 0.6
    def run(id: Long => Long) = TaylorInference.kwChain(
      coh.zipWithIndex.map { case ((t, d, x), i) => (t, d, x, id(i.toLong)) }
        .toDF("t", "d", "x", "id"),
      svy.zipWithIndex.map { case ((t, d, x, wt), i) => (t, d, x, wt, id(i.toLong)) }
        .toDF("t", "d", "x", "wt", "id"),
      col("wt"),
      col("t"), col("d"), Seq("x"), Seq("x"), tStar,
      a = aFrac, bandwidth = Some(hFix),
      sizeHint = graft.core.Windows.SizeHint.Small)
    val unique = run(identity)
    val collided = run(_ => 7L)
    assertNear(collided.beta(0), unique.beta(0), 1e-12)
    assertNear(collided.betaVarPoisson(0), unique.betaVarPoisson(0), 1e-12)
    for (ts <- tStar) {
      assertNear(collided.lambda(ts).estimate, unique.lambda(ts).estimate, 1e-12)
      assertNear(collided.lambda(ts).varPoisson, unique.lambda(ts).varPoisson,
        1e-12)
    }
  }

  test("ipswChain tolerates a t* before the first event (degenerate estimands)") {
    // t* = 0.25 precedes every event time (min 1.0) AND every λ* grid
    // point (min 0.5): no step-table row satisfies __t <= t*, so every
    // cumulative estimand and deviate is identically zero at that t*.
    // Regression guard for the one-job recombine: the per-(t*, sample)
    // aggregate rows must tolerate NULL/empty groups (the pre-r13
    // grouped max returned null; an unguarded driver max/sum throws).
    val ts = Seq(0.25, 4.0)
    val inf = TaylorInference.ipswChain(
      coh.toDF("t", "d", "x"), svy.toDF("t", "d", "x", "wt"), col("wt"),
      col("t"), col("d"), Seq("x"), Seq("x"), ts,
      lambdaStar = Some(lsGrid.toDF("t", "lambda_star")),
      x0 = Some(x0), a = aFrac,
      sizeHint = graft.core.Windows.SizeHint.Small)
    for (fam <- Seq(inf.lambda, inf.gail, inf.absRisk, inf.absRiskGail)) {
      val e = fam(0.25)
      assert(e.estimate == 0.0, s"estimate ${e.estimate} at t*=0.25")
      assert(e.varPoisson == 0.0, s"varPoisson ${e.varPoisson} at t*=0.25")
      assert(e.varPps == 0.0, s"varPps ${e.varPps} at t*=0.25")
    }
    // the live t* on the same run still matches the driver-side chain
    val base = chain(Array.fill(n)(1.0))
    assertNear(inf.lambda(4.0).estimate, base(("Lambda", 4.0)), 1e-7)
    assertNear(inf.gail(4.0).estimate, base(("Gail", 4.0)), 1e-7)
    assertNear(inf.absRisk(4.0).estimate, base(("absR", 4.0)), 1e-7)
  }

  test("composed IPSW chain variances equal FD-deviate contractions") {
    val inf = TaylorInference.ipswChain(
      coh.toDF("t", "d", "x"), svy.toDF("t", "d", "x", "wt"), col("wt"),
      col("t"), col("d"), Seq("x"), Seq("x"), tStar,
      lambdaStar = Some(lsGrid.toDF("t", "lambda_star")),
      x0 = Some(x0), a = aFrac,
      sizeHint = graft.core.Windows.SizeHint.Small)

    // point estimates agree with the driver-side chain
    val m1 = Array.fill(n)(1.0)
    val base = chain(m1)
    assertNear(inf.beta(0), base(("beta", 0.0)), 1e-7)
    for (ts <- tStar) {
      assertNear(inf.lambda(ts).estimate, base(("Lambda", ts)), 1e-7)
      assertNear(inf.gail(ts).estimate, base(("Gail", ts)), 1e-7)
      assertNear(inf.absRisk(ts).estimate, base(("absR", ts)), 1e-7)
    }

    // FD deviates per unit through the FULL chain
    val eps = 1e-6
    val fd = (0 until n).map { k =>
      val mp = m1.clone(); mp(k) += eps
      val mm = m1.clone(); mm(k) -= eps
      val cp = chain(mp); val cm = chain(mm)
      cp.keys.map(key => key -> (cp(key) - cm(key)) / (2 * eps)).toMap
    }
    // π: cohort 1/ipsw at the unperturbed fit, survey 1/wt
    val (g0, g1) = logisticFit(m1)
    val pi = (0 until n).map { k =>
      if (k < nC) aFrac * math.exp(g0 + g1 * xC(k))
      else 1.0 / svy(k - nC)._4
    }
    def vPois(key: (String, Double)) =
      (0 until n).map(k => (1.0 - pi(k)) * fd(k)(key) * fd(k)(key)).sum
    def vPps(key: (String, Double)) = {
      def grp(ks: Range) = {
        val vs = ks.map(k => fd(k)(key))
        val mean = vs.sum / vs.length
        vs.map(v => (v - mean) * (v - mean)).sum / (vs.length - 1) * vs.length
      }
      grp(0 until nC) + grp(nC until n)
    }
    assertNear(inf.betaVarPoisson(0), vPois(("beta", 0.0)), 1e-4)
    assertNear(inf.betaVarPps(0), vPps(("beta", 0.0)), 1e-4)
    for (ts <- tStar) {
      assertNear(inf.lambda(ts).varPoisson, vPois(("Lambda", ts)), 1e-4)
      assertNear(inf.lambda(ts).varPps, vPps(("Lambda", ts)), 1e-4)
      assertNear(inf.gail(ts).varPoisson, vPois(("Gail", ts)), 1e-4)
      assertNear(inf.gail(ts).varPps, vPps(("Gail", ts)), 1e-4)
      assertNear(inf.absRisk(ts).varPoisson, vPois(("absR", ts)), 1e-4)
      assertNear(inf.absRiskGail(ts).varPoisson, vPois(("absRG", ts)), 1e-4)
    }
  }
}
