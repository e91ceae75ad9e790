package graft

import graft.stats.CoxPH
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Exercise the LARGE code paths end-to-end: a continuous-time Cox fit
  * whose tie-collapsed step table exceeds the fast-path threshold, so
  * every NR iteration runs the two-phase distributed scan — the plan
  * shape that holds at 100 TB. Cross-checked against the same data
  * coarsened to few distinct times (small path) for plausibility, and
  * against the standalone scan equivalence in WindowsSpec for
  * exactness.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("Cox NR on 30k continuous event times uses the two-phase scan and converges") {
    val n = 30000
    val pop = graft.sampling.Population.generate(spark, n,
      beta = Array(-2.0, 0.3, 0.0, 0.0)).persist()
    // continuous t ⇒ ~n distinct times > 20k threshold ⇒ SizeHint.Large
    val distinctT = pop.select(countDistinct("t")).head().getLong(0)
    assert(distinctT > 20000, s"fixture must exceed fast-path threshold: $distinctT")

    val fit = CoxPH.fit(pop, col("t"), col("d"), col("w"), Seq(col("x1")),
      maxIter = 15, tol = 1e-8)
    assert(fit.converged, s"iters=${fit.iterations} resid=${fit.scoreResidual}")
    assert(fit.scoreResidual < 1e-4)
    // truth β=0.3 on x1 (sd 4) — generous CI at n=30k
    assert(math.abs(fit.coefficients(0) - 0.3) < 0.05,
      s"beta=${fit.coefficients(0)}")
    pop.unpersist(blocking = false)
  }

  test("hazard influence: Large two-phase path equals the Small window path") {
    val n = 25000
    val pop = graft.sampling.Population.generate(spark, n,
      beta = Array(-2.0, 0.3, 0.0, 0.0)).persist()
    val distinctT = pop.select(countDistinct("t")).head().getLong(0)
    assert(distinctT > 20000, s"fixture must exceed fast-path threshold: $distinctT")
    val fit = CoxPH.fit(pop, col("t"), col("d"), col("w"), Seq(col("x1")),
      maxIter = 8, tol = 0.0)
    val tStar = Seq(3.0, 9.0, 14.0)
    def run(hint: graft.core.Windows.SizeHint) = {
      val steps = graft.hazard.RiskSet.steps(pop, col("t"), col("d"),
        col("w"), graft.variance.CoxInfluence.relHzd(Seq(col("x1")),
          fit.coefficients), Seq(col("x1")), sizeHint = hint)
      val dev = graft.variance.CoxInfluence.deviates(pop, col("t"), col("d"),
        col("w"), Seq(col("x1")), fit.coefficients, fit.infoPacked, steps,
        Nil, hint)
      graft.variance.HazardInfluence.cumulativeDeviates(dev, steps, p = 1,
          tStar = tStar, sizeHint = hint)
        .groupBy(col("t_star"))
        .agg(sum(col("d_cum_hzd") * col("d_cum_hzd")).as("ssq"),
          max(col("cum_hzd")).as("lam"))
        .orderBy(col("t_star"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    }
    val large = run(graft.core.Windows.SizeHint.Large)
    val small = run(graft.core.Windows.SizeHint.Small)
    large.zip(small).foreach { case ((t1, s1, l1), (t2, s2, l2)) =>
      assert(t1 == t2)
      assertNear(s1, s2, 1e-8)
      assertNear(l1, l2, 1e-10)
    }
    pop.unpersist(blocking = false)
  }

  test("SQL registration: graft_cosine / graft_dot callable from spark.sql") {
    GraftFunctions.register(spark)
    Seq((Array(1.0, 0.0), Array(0.6, 0.8))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_test")
    val r = spark.sql(
      "SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS d FROM graft_vec_test")
      .head()
    assertNear(r.getDouble(0), 0.6, 1e-12)
    assertNear(r.getDouble(1), 0.6, 1e-12)
  }

  test("extensions injection registers functions at session build time") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    // note: getOrCreate may return the existing session; registration is
    // still applied via extensions on fresh builds — fall back to the
    // live-session check in that case.
    import s2.implicits._
    GraftFunctions.register(s2)
    val ok = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assertNear(ok, 11.0, 1e-12)
  }

  test("connected components: 50k-edge random graph matches local union-find") {
    // deterministic random graph over 20k vertices — many components of
    // mixed shapes (chains, bushy stars, isolated pairs)
    val rnd = new scala.util.Random(1234)
    val edges = (0 until 50000).map { _ =>
      val a = rnd.nextInt(20000).toLong
      val b = rnd.nextInt(20000).toLong
      (a, b)
    }
    // reference: local union-find with min roots
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = v
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val wantMap = edges.iterator
      .flatMap { case (a, b) => if (a == b) Iterator.empty else Iterator(a, b) }
      .toSet[Long].map(v => v -> find(v)).toMap

    val df = edges.toDF("id_a", "id_b")
    // cutoff 2000 forces SEVERAL distributed star rounds before the
    // endgame kicks in — both code paths exercised at once
    val got = graft.llm.Dedup.connectedComponents(df, col("id_a"), col("id_b"),
        localCutoff = 2000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == wantMap.keySet,
      s"vertex sets differ: ${got.keySet.size} vs ${wantMap.keySet.size}")
    val bad = wantMap.collect { case (v, c) if got(v) != c => (v, c, got(v)) }
    assert(bad.isEmpty, s"${bad.size} mislabeled, first: ${bad.take(3)}")
  }

  test("systematic draw on 25k rows takes the two-phase scan and matches local replay") {
    val n = 25000
    val df = spark.range(n).selectExpr("id",
      "CAST((id * 2654435761) % 100003 AS LONG) AS key")
    val got = graft.sampling.Systematic.draw(df,
        Seq(col("key"), col("id")), k = 7, start = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = (0L until n).map(i => (i, (i * 2654435761L) % 100003L))
      .sortBy { case (i, k) => (k, i) }
      .zipWithIndex.collect { case ((i, _), rn) if rn % 7 == 2 => i }.toSet
    assert(got == want, s"sizes ${got.size} vs ${want.size}")
  }

  test("packChunks on 25k docs takes the two-phase scan and matches the local prefix sum") {
    // 25k rows exceeds Windows.scan's small-input threshold (20k), so
    // the prefix sum runs the distributed two-phase path
    val n = 25000
    val docs = spark.range(n).selectExpr("id AS doc_id",
      "CAST(1 + (id * 2654435761) % 997 AS LONG) AS n_tok")
    val got = graft.llm.Mixing.packChunks(docs, col("doc_id"), col("n_tok"),
        capacity = 4096L)
      .orderBy("id")
      .select("id", "chunk_first", "chunk_last", "n_chunks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // local replay
    val toks = (0 until n).map(i => 1L + (i.toLong * 2654435761L) % 997L)
    var cum = 0L
    val want = toks.zipWithIndex.map { case (t, i) =>
      val first = cum / 4096L
      cum += t
      val last = (cum - 1) / 4096L
      (i.toLong, first, last, last - first + 1)
    }
    assert(got.length == n)
    val mism = got.zip(want).filter { case (g, w) => g != w }
    assert(mism.isEmpty, s"${mism.size} mismatches, first: ${mism.take(3)}")
  }
}
