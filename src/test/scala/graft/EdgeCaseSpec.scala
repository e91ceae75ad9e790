package graft

import org.apache.spark.sql.functions._

/** Empty-input behavior for the iterative / library-level operators —
  * at corpus scale a filter can legitimately leave zero rows, and an
  * iterative operator must terminate (not loop or throw) on it.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")

  test("connected components on an empty edge list is empty") {
    val cc = graft.llm.Dedup.connectedComponents(
      emptyPairs, col("id_a"), col("id_b"))
    assert(cc.collect().isEmpty)
  }

  test("connected components on only-self-edges is empty") {
    val cc = graft.llm.Dedup.connectedComponents(
      Seq((3L, 3L), (9L, 9L)).toDF("id_a", "id_b"), col("id_a"), col("id_b"))
    assert(cc.collect().isEmpty)
  }

  test("raking an empty frame terminates and returns empty") {
    val df = Seq.empty[(String, Double)].toDF("r", "w")
    val tr = Seq(("a", 1.0)).toDF("r", "t")
    val out = graft.weights.Raking.rake(df, col("w"),
      Seq(col("r") -> tr), sweeps = 2)
    assert(out.collect().isEmpty)
  }

  test("bootstrap/stratified/split on empty frames are empty") {
    val df = Seq.empty[Long].toDF("id").withColumn("w", lit(1.0))
    assert(graft.sampling.Resample
      .bootstrapReplicates(df, col("id"), col("w"), 3).collect().isEmpty)
    assert(graft.sampling.Resample
      .stratifiedFixed(df, col("w"), col("id"), 5).collect().isEmpty)
    assert(df.withColumn("s", graft.sampling.Resample.assignSplit(col("id"),
      Seq("a" -> 0.5, "b" -> 0.5))).collect().isEmpty)
  }

  test("exact dedup and minhash pairs on an empty corpus are empty") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.llm.Dedup.exact(docs, col("doc_id"), col("text"))
      .collect().isEmpty)
    assert(graft.llm.Dedup.minhashPairs(docs, col("doc_id"), col("text"))
      .collect().isEmpty)
  }

  test("upsert: update keeps uncarried columns, insert null-fills them, delete drops") {
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "price")
    val ch = Seq((2L, "U", 99.0), (3L, "D", 0.0), (4L, "I", 55.0))
      .toDF("k", "op", "price")
    val out = graft.core.Upsert(snap, ch, key = "k")
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getDouble(2))).toSet
    assert(out == Set(
      (1L, Some("a"), 10.0),   // untouched
      (2L, Some("b"), 99.0),   // price updated, tag kept
      (4L, None, 55.0)))       // inserted, snapshot-only column null
  }

  test("upsert: empty changeset is identity; empty snapshot keeps inserts only") {
    val snap = Seq((1L, 1.0)).toDF("k", "v")
    val none = Seq.empty[(Long, String, Double)].toDF("k", "op", "v")
    assert(graft.core.Upsert(snap, none, "k").collect().toSeq ==
      snap.collect().toSeq)
    val onlyIns = Seq((9L, "I", 2.0), (8L, "D", 0.0)).toDF("k", "op", "v")
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val out = graft.core.Upsert(empty, onlyIns, "k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((9L, 2.0)))
  }

  test("psas: g=2 median split conserves survey mass; survey-empty stratum → 0") {
    val cohort = Seq((1L, 0.1), (2L, 0.2), (3L, 0.8), (4L, 0.9)).toDF("id", "q")
    // both survey units land in the LOW stratum (q <= median 0.5)
    val survey = Seq((0.15, 2.0), (0.3, 3.0)).toDF("q", "wt")
    val got = graft.weights.Psas.compute(
        survey, col("q"), col("wt"), cohort, col("id"), col("q"), g = 2)
      .orderBy("c_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // low stratum: (2+3)/2 cohort units = 2.5 each; high stratum: no
    // survey mass → 0, never a null or a dropped row
    assert(got.toSeq == Seq((1L, 2.5), (2L, 2.5), (3L, 0.0), (4L, 0.0)))
    assert(got.map(_._2).sum == 5.0)
  }

  test("fuzzy join: maxDist=0 finds only exact in-block duplicates") {
    val df = Seq((1L, "alpha", "b1"), (2L, "alpha", "b1"), (3L, "alphb", "b1"),
        (4L, "alpha", "b2")).toDF("id", "s", "blk")
    val got = graft.llm.EntityResolution.blockedFuzzyJoin(
        df, col("id"), col("s"), col("blk"), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1,2) exact dup in b1; (1,3)/(2,3) are dist 1 → excluded; id 4 is
    // identical text but another block → excluded (blocking contract)
    assert(got == Set((1L, 2L, 0)))
  }

  test("nonresponse adjustment conserves class mass; all-nonresponse class drops") {
    val df = Seq(
      ("a", 2.0, true), ("a", 3.0, false), ("a", 5.0, true),
      ("b", 4.0, false), ("b", 6.0, false)).toDF("cls", "wt", "resp")
    val got = graft.weights.Nonresponse.adjust(df, col("cls"), col("wt"), col("resp"))
      .select(col("cls"), col("wt"), col("adj_wt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // class a: factor 10/7, only respondents survive, mass 10 conserved;
    // class b has NO respondents → contributes no rows (never a div-0)
    assert(got.forall(_._1 == "a") && got.length == 2)
    assertNear(got.map(_._3).sum, 10.0, 1e-12)
    got.foreach { case (_, wt, adj) => assertNear(adj, wt * 10.0 / 7.0, 1e-12) }
  }

  test("weight trimming conserves total mass and caps every trimmed unit") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    val out = graft.weights.Trimming.trimAt(df, col("w"), cap = 10.0)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assertNear(out.map(_._2).sum, 110.0, 1e-12)        // Σ preserved
    out.foreach { case (w, t) =>
      if (w > 10.0) assert(t == 10.0)                  // trimmed to cap
      else assertNear(t, w * (1 + 90.0 / 10.0), 1e-12) // proportional share
    }
  }

  test("fuzzy join: length prefilter never rejects a within-threshold pair") {
    val df = Seq((1L, "ab", "b"), (2L, "abxy", "b")).toDF("id", "s", "blk")
    // lev("ab","abxy") = 2 = length difference: the |len| <= maxDist
    // prefilter must keep it (lower bound is tight here)
    val got = graft.llm.EntityResolution.blockedFuzzyJoin(
        df, col("id"), col("s"), col("blk"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 2)))
  }

  test("a_basket_pairs basket guard passes an empty lineitem") {
    // with graft.check.preconditions on, the bounded-basket guard reads
    // the largest basket; an empty lineitem has none and must yield an
    // empty result, not a NULL max
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-li").toFile
    Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    sys.props("graft.check.preconditions") = "1"
    try assert(SparkEntry.queries("a_basket_pairs")(spark, dir.toString)
      .collect().isEmpty)
    finally {
      sys.props.remove("graft.check.preconditions")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a chain whose Cox fit throws releases its caches") {
    // no cohort events: CoxPH.fit raises "no events" after the
    // propensity stack (and, for KW, the prepared frame) is pinned
    spark.catalog.clearCache()
    val cohort = Seq((1.0, 0.0, 0.5, 1L), (2.0, 0.0, -0.3, 2L), (3.0, 0.0, 1.1, 3L))
      .toDF("t", "d", "x", "id")
    val survey = Seq((1.5, 1.0, 0.2, 2.0, 4L), (2.5, 0.0, -0.8, 3.0, 5L))
      .toDF("t", "d", "x", "wt", "id")
    val ipsw = intercept[Exception] {
      graft.pipeline.TaylorInference.ipswChain(cohort, survey, col("wt"),
        col("t"), col("d"), Seq("x"), Seq("x"), Seq(2.0), psIters = 2)
    }
    assert(String.valueOf(ipsw.getMessage).contains("no events"), ipsw.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty)
    val kw = intercept[Exception] {
      graft.pipeline.TaylorInference.kwChain(cohort, survey,
        col("wt"), col("t"), col("d"), Seq("x"), Seq("x"), Seq(2.0),
        bandwidth = Some(0.5), psIters = 2)
    }
    assert(String.valueOf(kw.getMessage).contains("no events"), kw.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty)
    // a cohort whose events are all 1 makes the GREG design's `1` and `d`
    // columns collinear: the first solve throws after the cohort is pinned
    val com = Seq(
      (1, 1.0, 1, 1.1, 1, 0.3, 2.0), (1, 2.0, 1, 1.9, 0, -0.4, 2.0),
      (1, 3.0, 1, 3.2, 1, 0.9, 2.0), (1, 4.0, 1, 4.1, 0, -1.2, 2.0),
      (0, 1.5, 0, 1.5, 1, -0.2, 3.0), (0, 2.5, 0, 2.5, 0, 0.6, 3.0),
      (0, 3.5, 0, 3.5, 1, -0.7, 3.0), (0, 4.5, 0, 4.5, 0, 1.4, 3.0))
      .toDF("trt", "t", "d", "tt", "dt", "x", "w")
    intercept[breeze.linalg.MatrixSingularException] {
      graft.pipeline.CalibEst.run(com, "tt", "dt", "w", col("w"), 100.0, 20.0,
        Seq("x"), Seq(2.0))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the jackknife names m on a single group") {
    // m = 1 scales replicate weights by m/(m−1) = ∞ and the variance by
    // (m−1)/m = 0: both entry points refuse it by name
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 2.0)).toDF("y", "w")
    val mean = intercept[IllegalArgumentException] {
      graft.pipeline.SurveyIntegration.jackknifeMean(df, col("y"), col("w"),
        lit(0), m = 1)
    }
    assert(mean.getMessage.contains("Jackknife.replicated") &&
      mean.getMessage.contains("m = 1"), mean.getMessage)
    val v = intercept[IllegalArgumentException] {
      graft.variance.Jackknife.variance(Seq(0.5).toDF("theta"), col("theta"), m = 1)
    }
    assert(v.getMessage.contains("Jackknife.variance") &&
      v.getMessage.contains("m = 1"), v.getMessage)
  }
}
