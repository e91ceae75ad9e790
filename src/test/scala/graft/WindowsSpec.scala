package graft

import graft.core.{AsOf, Windows}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-phase distributed scan must agree exactly with the
  * single-partition window on any input — exercised explicitly with
  * `SizeHint.Large` so the partitioned branch runs (the sf-test step
  * tables are small enough that production calls take the fast path).
  */
class WindowsSpec extends SparkSpec {
  import spark.implicits._

  // the two-phase scan range-partitions over the session's shuffle
  // parallelism: many partitions put many boundaries into one scan
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  private def data = {
    val rng = new scala.util.Random(7)
    (1 to 5000).map { i =>
      (rng.nextDouble() * 100, rng.nextGaussian(), rng.nextDouble() - 0.5)
    }.toDF("t", "a", "b")
  }

  test("distributed prefix scan == single-partition window (multi-column)") {
    val df = data
    val got = Windows.scan(df, Seq(col("t")),
        Seq(col("a") -> "ca", col("b") -> "cb"), sizeHint = Windows.SizeHint.Large)
      .orderBy("t").select("t", "ca", "cb").collect()
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .orderBy("t").select("t", "ca", "cb").collect()
    got.zip(want).foreach { case (g, e) =>
      assertNear(g.getDouble(1), e.getDouble(1), 1e-9)
      assertNear(g.getDouble(2), e.getDouble(2), 1e-9)
    }
  }

  test("distributed suffix scan == single-partition window (desc)") {
    val df = data
    val got = Windows.scan(df, Seq(col("t").desc),
        Seq(col("a") -> "ra"), sizeHint = Windows.SizeHint.Large)
      .orderBy("t").select("t", "ra").collect()
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("ra", sum(col("a")).over(w))
      .orderBy("t").select("t", "ra").collect()
    got.zip(want).foreach { case (g, e) =>
      assertNear(g.getDouble(1), e.getDouble(1), 1e-9)
    }
  }

  test("grouped distributed scan == per-group single-partition window") {
    val rng = new scala.util.Random(7)
    val df = (1 to 5000).map { i =>
      (s"g${rng.nextInt(4)}", rng.nextInt(500).toDouble, rng.nextInt(9) + 1.0)
    }.toDF("g", "t", "a")
      // pre-collapse ties so the running sum per (g, t) is order-invariant
      .groupBy("g", "t").agg(sum("a").as("a"))
    val got = withShufflePartitions(16) {
      Windows.groupedScan(df, Seq(col("g")), Seq(col("t")),
          Seq(col("a") -> "ca"), sizeHint = Windows.SizeHint.Large)
        .orderBy("g", "t").select("g", "t", "ca").collect()
    }
    val w = Window.partitionBy(col("g")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("ca", sum(col("a")).over(w))
      .orderBy("g", "t").select("g", "t", "ca").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      assertNear(g.getDouble(2), e.getDouble(2), 1e-9)
    }
  }

  test("grouped distributed scan: DESC order + multiple sums (the CoxPHReplicated shape)") {
    // risk-set suffix sums: per-replicate descending-time running sums
    // of several columns at once, two-phase vs the plain grouped window
    val rng = new scala.util.Random(11)
    val df = (1 to 4000).map { i =>
      (rng.nextInt(8), rng.nextInt(700).toDouble,
        rng.nextGaussian(), rng.nextDouble())
    }.toDF("r", "t", "s0", "s1")
      .groupBy("r", "t").agg(sum("s0").as("s0"), sum("s1").as("s1"))
    val got = withShufflePartitions(16) {
      Windows.groupedScan(df, Seq(col("r")), Seq(col("t").desc),
          Seq(col("s0") -> "S0", col("s1") -> "S1"),
          sizeHint = Windows.SizeHint.Large)
        .orderBy("r", "t").select("r", "t", "S0", "S1").collect()
    }
    val w = Window.partitionBy(col("r")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("S0", sum(col("s0")).over(w))
      .withColumn("S1", sum(col("s1")).over(w))
      .orderBy("r", "t").select("r", "t", "S0", "S1").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, e) =>
      assert(g.getInt(0) == e.getInt(0) && g.getDouble(1) == e.getDouble(1))
      assertNear(g.getDouble(2), e.getDouble(2), 1e-9)
      assertNear(g.getDouble(3), e.getDouble(3), 1e-9)
    }
  }

  test("stratifiedFixed: salted two-phase top-n keeps the identical set at any bucket count") {
    // the kept set is definitionally the n smallest (u, id) per stratum;
    // bucket count must not change membership (any stratum top-n is
    // contained in the union of its buckets' local top-ns)
    val rng = new scala.util.Random(3)
    val df = (1 to 3000).map { i =>
      (i.toLong, s"s${rng.nextInt(3)}")
    }.toDF("id", "stratum")
    def ids(buckets: Int) = graft.sampling.Resample
      .stratifiedFixed(df, col("stratum"), col("id"), n = 40,
        salt = 9L, buckets = buckets)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val base = ids(1) // one bucket == the plain single-window semantics
    assert(base.length == 120)
    assert(ids(7) == base)
    assert(ids(64) == base)
  }

  test("scan internals: large-path windows are keyed on __graft_pid / __graft_g*") {
    // The production scan self-releases behind a lazy localCheckpoint,
    // which truncates the visible plan to a LogicalRDD — PlanSpec can
    // only pin the post-checkpoint signature. The release path persists
    // instead (no truncation), and shares every plan-construction step,
    // so the INTERNAL shape is pinned here: the local running sums must
    // be windows partitioned on the scan's own pid (plus group keys for
    // groupedScan), never a bare data-sized window.
    val rel = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val flat = Windows.scan(data, Seq(col("t")), Seq(col("a") -> "ca"),
        sizeHint = Windows.SizeHint.Large, release = Some(rel))
      val pf = flat.queryExecution.executedPlan.toString
      assert(pf.contains("windowspecdefinition(__graft_pid"),
        s"scan: local sums not keyed on the scan pid:\n$pf")
      assert("windowspecdefinition\\((?!__graft)".r.findAllIn(pf).isEmpty,
        s"scan: unexpected non-graft window:\n$pf")

      val grouped = Windows.groupedScan(data.withColumn("g", col("t") < 50),
        Seq(col("g")), Seq(col("t")), Seq(col("a") -> "ca"),
        sizeHint = Windows.SizeHint.Large, release = Some(rel))
      val pg = grouped.queryExecution.executedPlan.toString
      assert(pg.contains("windowspecdefinition(__graft_pid") &&
        pg.contains("__graft_g0"),
        s"groupedScan: local sums not keyed on (pid, group):\n$pg")
      // the only non-pid window is the boundary-table offset pass,
      // keyed on the __graft_g* group columns (≤ partitions+groups rows)
      val nonPid = "windowspecdefinition\\((?!__graft_pid)[^)]{0,40}".r
        .findAllIn(pg).toList
      assert(nonPid.forall(_.contains("__graft_g")),
        s"groupedScan: window keyed on a raw data column:\n$nonPid\n$pg")
    } finally rel.foreach(_.unpersist())
  }

  test("partitioned LOCF == single-partition LOCF") {
    val rng = new scala.util.Random(13)
    val df = (1 to 3000).map { i =>
      (i.toDouble,
        if (rng.nextDouble() < 0.3) Some(rng.nextGaussian()) else None,
        if (rng.nextDouble() < 0.1) Some(rng.nextDouble()) else None)
    }.toDF("t", "u", "v")
    val got = withShufflePartitions(16) {
      AsOf.locfPartitioned(df, col("t"), Seq("u", "v"),
        sizeHint = Windows.SizeHint.Large).orderBy("t").collect()
    }
    val want = AsOf.locf(df, col("t"), Seq("u", "v")).orderBy("t").collect()
    got.zip(want).foreach { case (g, e) =>
      assert(g.isNullAt(1) == e.isNullAt(1), s"null mismatch at t=${g.getDouble(0)}")
      if (!g.isNullAt(1)) assertNear(g.getDouble(1), e.getDouble(1), 1e-12)
      assert(g.isNullAt(2) == e.isNullAt(2))
      if (!g.isNullAt(2)) assertNear(g.getDouble(2), e.getDouble(2), 1e-12)
    }
  }

  // a LONG step column with values past 2^53, non-null every 97th row:
  // a double round trip would show, and most partitions start in a gap
  private def sparseLongs = (1 to 3000).map { i =>
    (i.toDouble, if (i % 97 == 1) Some((1L << 53) + i) else None)
  }.toDF("t", "v")

  test("partitioned LOCF keeps a LONG column's type and exact values") {
    val (schema, rows) = withShufflePartitions(16) {
      val got = AsOf.locfPartitioned(sparseLongs, col("t"), Seq("v"),
        sizeHint = Windows.SizeHint.Large).orderBy("t")
      (got.schema, got.collect())
    }
    assert(schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(rows.length == 3000)
    rows.foreach { r =>
      val i = r.getDouble(0).toLong
      assert(r.getLong(1) == (1L << 53) + i - (i - 1) % 97, s"at t=$i")
    }
  }

  test("partitioned LOCF leaves no cached dataset behind") {
    spark.catalog.clearCache()
    withShufflePartitions(16) {
      AsOf.locfPartitioned(sparseLongs, col("t"), Seq("v"),
        sizeHint = Windows.SizeHint.Large).collect()
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("as-of lookup: exact boundary semantics (value at greatest t <= probe)") {
    val steps = Seq((1.0, 10.0), (2.0, 20.0), (5.0, 50.0)).toDF("t", "v")
    val got = AsOf.lookup(steps, col("t"), col("v"), Seq(0.5, 1.0, 3.0, 5.0, 9.0))
      .orderBy("t_star").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == Map(0.5 -> 0.0, 1.0 -> 10.0, 3.0 -> 20.0, 5.0 -> 50.0, 9.0 -> 50.0))
  }
}
