package graft

import graft.core.FeatureArray
import graft.stats.Kernels
import graft.weights.{Greg, KernelWeights}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests from SURVEY.md §5(d): structural invariants the
  * reference guarantees by construction, checked over generated inputs
  * (raw ScalaCheck generators with fixed seeds — deterministic). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowGen = Gen.listOfN(12,
    Gen.zip(Gen.choose(-5.0, 5.0), Gen.choose(-5.0, 5.0), Gen.choose(0.5, 10.0)))

  test("Σ kw = Σ survey wt for any scores/weights/bandwidth (simu_fun.R:186-189)") {
    for ((rows, h) <- samples(Gen.zip(rowGen, Gen.choose(0.1, 3.0)), 5)) {
      val survey = rows.zipWithIndex
        .map { case ((q, _, w), i) => (i.toLong, q, w) }.toDF("id", "q", "wt")
      val cohort = rows.zipWithIndex
        .map { case ((_, q, _), i) => (i.toLong + 1000, q) }.toDF("id", "q")
      val kw = KernelWeights.compute(survey, col("q"), col("wt"),
        cohort, col("id"), col("q"), h, Kernels.gaussian)
      val sumKw = kw.agg(sum("kw")).head().getDouble(0)
      val sumWt = rows.map(_._3).sum
      assert(math.abs(sumKw - sumWt) < 1e-8 * math.max(1.0, sumWt),
        s"h=$h sumKw=$sumKw sumWt=$sumWt")
    }
  }

  test("fuzzy join profile collapse equals the naive all-pairs result") {
    // the DP-over-profiles rewrite must be extensionally identical to
    // pairing rows directly, for any corpus with repeated strings
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Seq("cat", "car", "cart", "dog", "dot", "bird", "birk")
    val rowG = Gen.listOfN(14,
      Gen.zip(Gen.oneOf(vocab), Gen.oneOf("b1", "b2")))
    for ((rows, maxDist) <- samples(Gen.zip(rowG, Gen.choose(0, 2)), 4)) {
      val df = rows.zipWithIndex
        .map { case ((s, b), i) => (i.toLong, s, b) }.toDF("id", "s", "blk")
      val got = graft.llm.EntityResolution.blockedFuzzyJoin(
          df, col("id"), col("s"), col("blk"), maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (a, i) <- rows.zipWithIndex; (b, j) <- rows.zipWithIndex
        if i < j && a._2 == b._2
        d = lev(a._1, b._1) if d <= maxDist
      } yield (i.toLong, j.toLong, d)).toSet
      assert(got == want, s"maxDist=$maxDist diff=${(got diff want) ++ (want diff got)}")
    }
  }

  test("bucketed range join equals the naive BETWEEN join for any width") {
    val ivG = Gen.listOfN(8, Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(0.0, 40.0)))
    val ptG = Gen.listOfN(20, Gen.choose(-60.0, 60.0))
    for (((ivs, pts), width) <- samples(
        Gen.zip(Gen.zip(ivG, ptG), Gen.oneOf(1.0, 7.3, 64.0)), 4)) {
      val intervals = ivs.zipWithIndex
        .map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
        .toDF("i", "lo", "hi")
      val points = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("k", "p")
      val got = graft.core.RangeJoin.pointInInterval(
          points, col("k"), col("p"), intervals, col("i"),
          col("lo"), col("hi"), width)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (p, k) <- pts.zipWithIndex; ((lo, len), i) <- ivs.zipWithIndex
        if p >= lo && p <= lo + len
      } yield (k.toLong, i.toLong)).toSet
      assert(got == want, s"width=$width diff=${(got diff want) ++ (want diff got)}")
    }
  }

  test("GREG calibration reproduces arbitrary attainable totals exactly") {
    for (rows <- samples(rowGen, 5) if rows.map(_._1).distinct.length >= 2) {
      val df = rows.zipWithIndex
        .map { case ((x, _, w), i) => (i.toLong, x, w) }.toDF("id", "x", "w")
      val cur = df.agg(sum("w"), sum(col("w") * col("x"))).head()
      val targets = Array(cur.getDouble(0) * 1.07, cur.getDouble(1) * 0.93 + 0.5)
      val feats = FeatureArray.withIntercept(Seq(col("x")))
      val sol = Greg.solve(df, feats, col("w"), targets)
      val cal = df.withColumn("greg_wt", col("w") * Greg.factor(feats, sol))
      val got = cal.agg(sum("greg_wt"), sum(col("greg_wt") * col("x"))).head()
      assert(math.abs(got.getDouble(0) - targets(0)) <
        1e-7 * math.max(1.0, math.abs(targets(0))))
      assert(math.abs(got.getDouble(1) - targets(1)) <
        1e-7 * math.max(1.0, math.abs(targets(1))))
    }
  }

  test("clip replaces exactly the negative calibrated weights") {
    for (rows <- samples(rowGen, 5) if rows.map(_._1).distinct.length >= 2) {
      val df = rows.zipWithIndex
        .map { case ((x, _, w), i) => (i.toLong, x, w) }.toDF("id", "x", "w")
      val cur = df.agg(sum("w"), sum(col("w") * col("x"))).head()
      val targets = Array(cur.getDouble(0) * 0.5, cur.getDouble(1) * 1.5)
      val feats = FeatureArray.withIntercept(Seq(col("x")))
      val sol = Greg.solve(df, feats, col("w"), targets)
      val got = df.select(
        (col("w") * Greg.factor(feats, sol)).as("raw"),
        Greg.calibratedWeight(feats, col("w"), sol).as("clipped")).collect()
      got.foreach { r =>
        val raw = r.getDouble(0); val clipped = r.getDouble(1)
        if (raw < 0.0) assert(clipped == 1e-5)
        else assert(clipped == raw,
          s"non-negative weight $raw altered to $clipped")
      }
    }
  }

  test("jackknife variance is non-negative for any grouping") {
    for ((m, ys) <- samples(
        Gen.zip(Gen.choose(2, 6), Gen.listOfN(20, Gen.choose(-10.0, 10.0))), 5)) {
      val df = ys.zipWithIndex.map { case (y, i) => (i.toLong, y) }.toDF("id", "y")
      val rep = graft.variance.Jackknife.replicated(df,
        (col("id") % m).cast("int"), lit(1.0), m)
      val est = rep.groupBy(col("jk_r"))
        .agg((sum(col("jk_wt") * col("y")) /
          when(sum(col("jk_wt")) =!= 0.0, sum(col("jk_wt")))).as("theta"))
      val v = graft.variance.Jackknife.variance(est, col("theta"), m)
        .head().getDouble(0)
      assert(v >= 0.0)
    }
  }

  test("triangleCounts matches brute force on a random 200-vertex graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edges = (0 until 1500).map(_ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    // local brute force over the deduped undirected edge set
    val und = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((u, v) <- und; w <- adj.getOrElse(v, Set.empty) if und((u, w))) {
      // u < v < w by construction of adj over (min, max) pairs
      want(u) += 1; want(v) += 1; want(w) += 1
    }
    val got = graft.llm.LinkGraph.triangleCounts(
        edges.toDF("a", "b"), org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want.toMap, s"per-node triangle counts differ: " +
      s"${(got.keySet ++ want.keySet).find(k => got.getOrElse(k, 0L) != want(k))}")
  }

  test("upsert matches a local map-based reference on random changesets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val snap = (0 until 200).map(i => (i.toLong, rnd.nextDouble()))
      val keys = rnd.shuffle((0 until 260).toList).take(120)
      val ch = keys.map { k =>
        val op = if (k >= 200) "I" else Seq("U", "D")(rnd.nextInt(2))
        (k.toLong, op, rnd.nextDouble())
      }
      val want = {
        val m = scala.collection.mutable.LinkedHashMap(snap.map {
          case (k, v) => k -> v }: _*)
        ch.foreach {
          case (k, "D", _) => m.remove(k)
          case (k, _, v) => m(k) = v
        }
        m.toMap
      }
      val got = graft.core.Upsert(snap.toDF("k", "v"),
          ch.toDF("k", "op", "v"), key = "k")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == want)
    }
  }

  test("deterministic RNG: uniform in (0,1), reproducible, salt-decorrelated") {
    val df = spark.range(1, 2001).toDF("id")
    val r = df.select(
      min(graft.core.Rng.uniform(col("id"), 1)).as("mn"),
      max(graft.core.Rng.uniform(col("id"), 1)).as("mx"),
      avg(graft.core.Rng.uniform(col("id"), 1)).as("m1"),
      avg(graft.core.Rng.uniform(col("id"), 2)).as("m2"),
      corr(graft.core.Rng.uniform(col("id"), 1),
        graft.core.Rng.uniform(col("id"), 2)).as("c")).head()
    assert(r.getDouble(0) > 0.0 && r.getDouble(1) < 1.0)
    assert(math.abs(r.getDouble(2) - 0.5) < 0.03)
    assert(math.abs(r.getDouble(3) - 0.5) < 0.03)
    assert(math.abs(r.getDouble(4)) < 0.08)
  }
}
