package graft.sampling

import graft.core.Rng
import graft.functions.Coef
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Probability-proportional-to-size sampling (SURVEY.md M15) — the
  * reference's `samp.slct` / `sam.pps` (simu_fun.R:389-467).
  *
  * R's `sample(N, n, prob=Msize)` draws without replacement with
  * probability ∝ size. The distributed equivalent is the
  * Efraimidis–Spirakis one-pass reservoir order: key_i = −ln(u_i)/M_i
  * (exponential with rate M_i); the n SMALLEST keys are exactly a
  * PPS-without-replacement draw. `orderBy(key).limit(n)` plans as
  * TakeOrderedAndProject — a per-partition top-n + tiny driver merge, no
  * global sort, which is the 100-TB-safe shape.
  *
  * Uniforms come from the engine's deterministic cross-engine RNG
  * (graft.core.Rng), so a draw is reproducible AND oracle-checkable.
  */
object Pps {

  def sampleKey(idKey: Column, size: Column, salt: Long = 0L): Column =
    -log(Rng.uniform(idKey, salt)) / size.cast("double")

  /** One-stage PPS draw of n units; attaches the design weight
    * wt_i = ΣM / (n·M_i) (simu_fun.R:465). */
  def draw(df: DataFrame, idKey: Column, size: Column, n: Int, salt: Long = 0L): DataFrame = {
    val totalM = df.agg(sum(size.cast("double"))).head().getDouble(0)
    val wt = (Coef.scalar(totalM) / (lit(n.toDouble) * size.cast("double"))).as("wt")
    // one projection drops the key and sets wt (in place if df has one)
    val out = df.columns.toSeq.map(c => if (c == "wt") wt else col(c))
    df.withColumn("__key", sampleKey(idKey, size, salt))
      .orderBy(col("__key"))
      .limit(n)
      .select((if (df.columns.contains("wt")) out else out :+ wt): _*)
  }

  /** Two-stage cluster design (srs-pps / pps-pps, simu_fun.R:389-444):
    * stage 1 draws nPsu clusters PPS-by-cluster-size, stage 2 draws
    * nPerPsu units per selected cluster (PPS within cluster). Weights
    * multiply across stages. */
  def drawTwoStage(df: DataFrame, idKey: Column, psu: Column, size: Column,
      nPsu: Int, nPerPsu: Int, salt: Long = 0L): DataFrame = {
    val psuSizes = df.groupBy(psu.as("__psu"))
      .agg(sum(size.cast("double")).as("__M"), count(lit(1)).as("__cnt"))
    val selected = draw(psuSizes, col("__psu"), col("__M"), nPsu, salt)
      .withColumnRenamed("wt", "wt_psu")
    val stage2 = df.withColumn("__psu", psu)
      .join(broadcast(selected.select(col("__psu"), col("wt_psu"))), Seq("__psu"), "inner")
    // within-PSU PPS: rank by ES key inside each PSU, keep nPerPsu
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__psu")).orderBy(sampleKey(idKey, size, salt + 1))
    val psuTotals = df.withColumn("__psu", psu).groupBy(col("__psu"))
      .agg(sum(size.cast("double")).as("__Mpsu"))
    stage2.join(broadcast(psuTotals), Seq("__psu"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nPerPsu)
      .withColumn("wt", col("wt_psu") * col("__Mpsu") /
        (lit(nPerPsu.toDouble) * size.cast("double")))
      .drop("__rk", "__psu", "__Mpsu", "wt_psu")
  }
}
