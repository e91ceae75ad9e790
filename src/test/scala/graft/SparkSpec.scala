package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // AQE + skew-join rewriting FORCED ON so every PlanSpec pin is
      // asserted against the adaptively re-planned physical plan — a
      // skew-join split or AQE join-strategy switch that broke a pinned
      // shape (salted top-n, grouped scan, broadcast dims) would fail
      // the suite here rather than surprising a cluster deployment.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the codegen cache sized as SparkEntry.session sizes it: at the
      // default 100 entries one Monte-Carlo replicate's generated
      // classes evict each other, and CompileOnceSpec could not tell a
      // recompile from an eviction
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def assertNear(got: Double, want: Double, tol: Double = 1e-6): Unit =
    assert(math.abs(got - want) <= tol * math.max(1.0, math.abs(want)),
      s"got $got, want $want (tol $tol)")

  def assertSeqNear(got: Seq[Double], want: Seq[Double], tol: Double = 1e-6): Unit = {
    assert(got.length == want.length, s"length ${got.length} != ${want.length}")
    got.zip(want).foreach { case (g, w) => assertNear(g, w, tol) }
  }
}
