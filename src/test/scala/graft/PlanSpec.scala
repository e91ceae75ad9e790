package graft

import graft.SparkEntry
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100-TB design contract
  * (SURVEY.md §4): filters/projections must reach the parquet scan,
  * dimension joins must broadcast, the kernel cross join must be a
  * broadcast nested loop, and hot expressions must stay inside
  * whole-stage codegen.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize any AdaptiveSparkPlan before inspecting
    df.queryExecution.executedPlan.toString
  }

  test("s1_scan: predicate + projection pushed into the parquet scan") {
    val p = plan("s1_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_extendedprice"), "projection not pruned")
  }

  test("j_multiway: dimension joins broadcast, no shuffle of nation/region") {
    val p = plan("j_multiway")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("j2_kernel_cross: broadcast nested loop — linear in the big side") {
    val p = plan("j2_kernel_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
  }

  test("KW pair stream: the broadcast side reads the survey input, never the cohort") {
    // The n_s·n_c kernel pair stream must STREAM the cohort (the side
    // that grows with the data) and broadcast the survey side — the
    // survey profiles, or the row sums collected from them — in both
    // KernelWeights entry points, with the row sums collected and with
    // them distributed (threshold 0); no explicit broadcast hint may
    // wrap a cohort-derived frame. Joins AQE broadcasts at run time on
    // small inputs are not hints and are not checked.
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case o => o.children.flatMap(nodes)
    })
    def scanned(p: SparkPlan): Set[String] = nodes(p).collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
    }.flatten.toSet
    // (query, survey input, cohort input): a8 runs attachJacobian, a7 compute
    for {
      (q, survey, cohort) <- Seq(
        ("a8_kw_jacobian", "customer.parquet", "supplier.parquet"),
        ("a7_kernel_norm", "supplier.parquet", "customer.parquet"))
      threshold <- Seq(None, Some("0"))
    } {
      threshold.foreach(spark.conf.set("graft.kw.rowSumsCollectThreshold", _))
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect()
        val bnljs = nodes(df.queryExecution.executedPlan).collect {
          case j: BroadcastNestedLoopJoinExec => j
        }
        assert(bnljs.nonEmpty, s"$q: no kernel pair stream")
        bnljs.foreach { j =>
          val (build, stream) =
            if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
          assert(scanned(build).subsetOf(Set(survey)),
            s"$q: pair stream broadcasts ${scanned(build)}, want only $survey:\n$j")
          assert(scanned(stream).contains(cohort),
            s"$q: pair stream does not stream the cohort $cohort:\n$j")
        }
        val hinted = df.queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.child
        }
        hinted.foreach { h =>
          val read = h.collect { case l: LogicalRelation => l.relation }.collect {
            case r: HadoopFsRelation => r.location.rootPaths.map(_.getName)
          }.flatten
          assert(!read.contains(cohort), s"$q: broadcast hint over the cohort:\n$h")
        }
      } finally spark.conf.unset("graft.kw.rowSumsCollectThreshold")
    }
  }

  test("o1_topk plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("o1_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q1_agg runs inside whole-stage codegen with partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      "codegen missing (no WholeStageCodegen node or *(n) stage marker)")
    assert(p.contains("HashAggregate"), "hash aggregate missing")
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("sim_topk: custom cosine expression compiles into codegen + TakeOrdered") {
    val df = SparkEntry.queries("sim_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosinesim") || p.contains("CosineSim") || p.contains("graft"),
      s"custom expression not in plan:\n$p")
    // and it must still evaluate correctly end-to-end
    assert(df.count() == 10)
  }

  test("j7_semi_anti: semi/anti join operators selected") {
    val p = plan("j7_semi_anti")
    assert(p.contains("LeftSemi"), "semi join missing")
    assert(p.contains("LeftAnti"), "anti join missing")
  }

  test("m15_pps: PPS draw plans as per-partition top-n (TakeOrdered)") {
    val p = plan("m15_pps")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("ev_interval_join: equi-key carries the join (never a nested loop)") {
    val p = plan("ev_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must hash/merge on user_id, not cross:\n$p")
  }

  test("t_tfidf / d7_decontaminate: dimension-sized sides broadcast") {
    assert(plan("t_tfidf").contains("BroadcastHashJoin"),
      "tf-idf df join should broadcast")
    assert(plan("d7_decontaminate").contains("BroadcastHashJoin"),
      "eval-gram join should broadcast")
  }

  test("mm_phash: banded candidate join is an equi-join, never a cross product") {
    val p = plan("mm_phash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"perceptual dedup must pair only within (band, byte) buckets:\n$p")
  }

  test("q18_big_orders: the HAVING sliver broadcasts into the fact joins") {
    val p = plan("q18_big_orders")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k sink:\n$p")
  }

  test("j10_nearest: window-based nearest join has no self-join of events") {
    val p = plan("j10_nearest")
    assert(!p.contains("Join"), s"nearest-event must be window-only:\n$p")
  }

  test("s5_partitioned: lang predicate prunes hive partitions at the scan") {
    val df = graft.relational.RelationalQueries3.partitionedScan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*=[^\\]]*en[^\\]]*\\].*"),
      s"lang filter not applied as a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      s"lang should prune directories, not row groups:\n$p")
  }

  test("query catalog: no duplicate names; every oracle belongs to a query") {
    val names = SparkEntry.names
    val dups = names.groupBy(identity).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"duplicate query names (Map would drop one): $dups")
    val orphans = SparkEntry.oracleSql.keySet -- names.toSet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    // README's advertised counts must track the catalog (recurring
    // doc-drift flagged by two rounds of review)
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val want = s"${names.size} named queries, ${SparkEntry.oracleSql.size} with DuckDB oracles"
    assert(readme.contains(want),
      s"README.md counts drifted — expected the line to contain: '$want'")
  }

  test("s4_bucketed: co-located bucket join runs with NO exchange") {
    val joined = graft.relational.RelationalQueries3.bucketedJoin(spark, sf)
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected sort-merge bucket join:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not reshuffle either side:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan did not use the bucket layout:\n$p")
  }

  test("sim_pq: scoring runs over the compressed code index, never the raw vectors") {
    val df = SparkEntry.queries("sim_pq")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    val mem = p.linesIterator.filter(_.contains("InMemoryTableScan")).mkString("\n")
    assert(mem.contains("codes"), s"encoded index not cached:\n$p")
    assert(!mem.contains("c_v"), s"raw vectors leaked into the scoring join:\n$mem")
  }

  test("g_triangles / d11_incremental: equi-joins carry the wedge/band keys, no cartesian") {
    for (q <- Seq("g_triangles", "d11_incremental")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        .exists(p.contains), s"$q has no equi-join operator:\n$p")
    }
  }

  test("rake: factor application is join-free (map-literal lookups only)") {
    import spark.implicits._
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0))
      .toDF("r", "s", "w")
    val raked = graft.weights.Raking.rake(df, org.apache.spark.sql.functions.col("w"),
      Seq(org.apache.spark.sql.functions.col("r") ->
          Seq(("a", 4.0), ("b", 2.0)).toDF("r", "t"),
        org.apache.spark.sql.functions.col("s") ->
          Seq(("x", 3.0), ("y", 3.0)).toDF("s", "t")),
      sweeps = 2)
    val p = raked.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("join"),
      s"raked weights must be pure expressions over the sample:\n$p")
    assert(!p.contains("Exchange"),
      s"factor application must not shuffle the sample:\n$p")
  }

  test("runtime bloom-filter pruning engages on a selective shuffle join") {
    // At 100 TB the probe side of a selective fact-fact join should be
    // row-filtered at the scan by a runtime bloom filter built from the
    // filtered build side. Local datasets sit under the default trigger
    // thresholds, so lower them to prove the engine's join shape is
    // ELIGIBLE for injection — the property that matters at scale.
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    try {
      val li = graft.core.Tables(spark, sf, "lineitem")
      val ord = graft.core.Tables(spark, sf, "orders")
        .filter(col("o_totalprice") > 300000.0) // selective build side
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("q"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter not injected on the probe side:\n$p")
      assert(p.contains("bloom_filter_agg"),
        s"bloom filter build aggregate missing:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      prev match {
        case Some(v) => conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", v)
        case None => conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      }
    }
  }

  test("j8_fuzzy_join: candidates come from a block equi-join, never a cartesian") {
    val p = plan("j8_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to all-pairs:\n$p")
    // the thresholded levenshtein must be present (band DP, not full O(len²))
    assert(p.toLowerCase.contains("levenshtein"), s"distance not in plan:\n$p")
  }

  test("a_centroid_knn / m22_psas: dimension-sized factor tables broadcast back") {
    val p1 = plan("a_centroid_knn")
    assert(p1.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p1")
    val p2 = plan("m22_psas")
    assert(p2.contains("BroadcastHashJoin"), s"stratum factor join not broadcast:\n$p2")
  }

  test("sim_knn_join: query side broadcasts, corpus streams one NLJ pass") {
    // the query set is the small side by contract: a broadcast nested
    // loop (linear in corpus, parallel over its partitions), never a
    // corpus self-shuffle or cartesian exchange
    val p = plan("sim_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast NLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian exchange crept in:\n$p")
  }

  test("j9_range_join: interval join runs as a bucket equi-join, not a nested loop") {
    val p = plan("j9_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
  }

  test("d12_containment: token df is a hash aggregate, never a token-keyed window") {
    // a window partitioned by (blk, token) sorts the posting stream and
    // concentrates every occurrence of a hot token in one partition —
    // the document-frequency count must come from groupBy + join (map-
    // side partials, AQE skew-splittable) instead
    val p = plan("d12_containment")
    val tokenWindow = "windowspecdefinition\\(blk#\\d+[^,]*, w#".r
    assert(tokenWindow.findFirstIn(p).isEmpty,
      s"posting-stream window keyed on the token:\n$p")
    // doc-partitioned windows (prefix ranking) are expected and fine
    assert(p.contains("HashAggregate"), "df hash aggregate missing")
  }

  test("a_basket_pairs: pair generation is an order-key equi-join + top-k") {
    val p = plan("a_basket_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"basket pairs must come from the per-order equi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a TakeOrdered, not a global sort:\n$p")
  }

  test("w_ewma / t_pmi: kernel weights and vocabulary broadcast") {
    // the 13-row EWMA weight table and the tiny df vocabulary must ship
    // as broadcasts — re-shuffling the big side on a kernel index would
    // serialize the smoother at scale
    assert(plan("w_ewma").contains("BroadcastHashJoin"),
      "EWMA weight table not broadcast")
    assert(plan("t_pmi").contains("BroadcastHashJoin"),
      "PMI vocabulary not broadcast")
  }

  test("ev_transitions / ev_paths: the big window pass is user-partitioned") {
    // the only unpartitioned windows allowed are over the collapsed
    // 5×5 transition table — the event-stream lag/lead must carry the
    // user_id partition key
    for (q <- Seq("ev_transitions", "ev_paths")) {
      val p = plan(q)
      val userWindow = "windowspecdefinition\\(user_id#\\d+".r
      assert(userWindow.findFirstIn(p).nonEmpty,
        s"$q: event window not partitioned on user_id:\n$p")
    }
  }

  test("m37_poisson_glm / m38_isotonic: data pass is one hash aggregate") {
    // both collapse the data before any driver-side / bin-table work;
    // the data-sized stage must be a partial+final hash aggregate with
    // no data-sized window or sort
    for (q <- Seq("m38_isotonic", "m39_auc_roc")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q: no partial aggregation in the collapse pass:\n$p")
    }
  }

  test("t_dsir: the log-ratio table broadcasts back onto the token stream") {
    val p = plan("t_dsir")
    assert(p.contains("BroadcastHashJoin"),
      s"per-bucket log-ratio table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle for the 128-row join:\n$p")
  }

  test("m49_caliper_match: sorted-NN matching — no pair join, no global window") {
    val p = plan("m49_caliper_match")
    // the r6 redesign replaced the degenerate bucketed candidate join
    // (treated × controls at a concentrated score) with interleaved
    // LOCF carries: any regression re-surfaces as a pair-enumerating
    // join or a single-task global window
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"m49 regressed to pair enumeration:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"m49 regressed to a single-partition global window:\n$p")
    // the carries run per range-partition (windows keyed on the pid)
    assert(p.contains("windowspecdefinition(__graft_pid"),
      s"expected pid-partitioned carry windows:\n$p")
  }

  test("j11_range_auto: the optimizer rule yields a bucket equi-join") {
    val p = plan("j11_range_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range-join rewrite did not fire:\n$p")
    assert(p.contains("__graft_bucket") && p.toLowerCase.contains("generate"),
      s"no bucket explode / bucket key in plan:\n$p")
  }

  test("j12_range_auto_dbl: the floating path fires with catch-all routing") {
    val p = plan("j12_range_auto_dbl")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"floating range-join rewrite did not fire:\n$p")
    assert(p.contains("__graft_bucket"), s"no bucket key in plan:\n$p")
  }

  test("s16_event_source: batch path reads the DSv2 scan directly") {
    val p = plan("s16_event_source")
    assert(p.contains("BatchScan graft_event_stream"),
      s"expected the DSv2 batch scan:\n$p")
    assert(!p.contains("HashAggregate"), // pure scan + sort, no agg
      s"unexpected aggregation in the source read:\n$p")
  }

  test("s15_zorder / m48_brr_fay: exact-integer passes stay in hash aggregates") {
    for (q <- Seq("s15_zorder", "m48_brr_fay")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q: no partial aggregation:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: unexpected cartesian product:\n$p")
    }
  }

  test("radix quantile: three fact scans, broadcast pruning, no range sampling, no cache") {
    // the r8 redesign's whole point: a deterministic sample-free search
    // — bucket keys from sortable bits (value-deterministic), candidate
    // rows shipped back as broadcasts, and NO repartitionByRange (whose
    // boundaries re-sample per materialization) and NO persist anywhere
    // in the engine path. Pin the engine function directly (the query
    // entry adds a result orderBy whose 3-row rangepartitioning would
    // muddy the assertion).
    val df = graft.stats.WeightedQuantile.weightedQuantiles(
      graft.core.Tables(spark, sf, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
      Seq((1, 4), (1, 2), (3, 4)))
    df.collect()
    // the AQE toString appends an "== Initial Plan ==" section that
    // would double-count — pin the FINAL plan only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 3, s"radix search must scan the facts exactly 3x, got $scans:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no range sampling allowed anywhere in the radix path:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"the radix path must not depend on a cache:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"passes 2-3 must prune via broadcast candidate joins:\n$p")
  }

  test("interpolated quantile: same radix discipline, one extra scan only for the clip pass") {
    // interpolatedQuantiles (type-7 / quantile_cont) rides the SAME
    // three-pass rank search — two rank targets per level must NOT
    // double the scan count (they ride one broadcast target table),
    // and the builtin `percentile` aggregate (data-sized per-group
    // value-count maps) must not appear anywhere.
    val df = graft.stats.WeightedQuantile.interpolatedQuantiles(
      graft.core.Tables(spark, sf, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), lit(1L),
      Seq(0.05, 0.5, 0.95))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 3, s"interpolated search must scan the facts exactly 3x, got $scans:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no range sampling allowed anywhere in the radix path:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"the radix path must not depend on a cache:\n$p")
    assert(!p.toLowerCase.contains("percentile"),
      s"builtin percentile aggregate must not appear:\n$p")
  }

  test("d5_embed_neardup: fixed batch broadcasts, corpus streams one equi-join pass") {
    // batch-vs-corpus admission screen: the 200-vector batch is the
    // BUILD side of a label equi-join (broadcast), the corpus the
    // streamed probe — linear in the corpus, never an all-pairs shape.
    // (At sf0.001 zero pairs clear the threshold and AQE collapses the
    // final plan to EmptyRelation; the Initial Plan section still
    // carries the join shape under test.)
    val p = plan("d5_embed_neardup")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      s"batch side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"embedding screen degenerated to all-pairs:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,200)"),
      s"batch bound must prune at the scan:\n$p")
  }

  test("w_pct_rank / w_ntile: no data-sized window — every window rides the scan's pid/group keys") {
    // percent_rank/cume_dist/ntile over a fact table must come from the
    // two-phase distributed rank (Windows.scan/groupedScan). The scan's
    // internal pid-keyed window now sits BEHIND its lazy localCheckpoint
    // (the plan shows `Scan ExistingRDD[... __graft_local_*]`) — the
    // internal shape itself is pinned in WindowsSpec ("scan internals")
    // against the un-truncated release-path plan. Here we pin what the
    // final plan can still prove: no windowspecdefinition over a data
    // column (the single-task funnel this rewrite removed), no
    // single-partition exchange, and the two-phase signature — local
    // ranks materialized at the checkpoint boundary with the offset
    // table broadcast back on __graft_pid.
    for (q <- Seq("w_pct_rank", "w_ntile")) {
      val p = plan(q)
      val bad = "windowspecdefinition\\((?!__graft)".r.findAllIn(p).toList
      assert(bad.isEmpty,
        s"$q: window not keyed on the scan's __graft partition cols:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q: regressed to a single-partition global window:\n$p")
      assert("Scan ExistingRDD\\[[^\\]]*__graft_local_".r.findFirstIn(p).isDefined,
        s"$q: expected the scan's checkpointed local ranks:\n$p")
      assert(p.contains("BroadcastHashJoin [__graft_pid"),
        s"$q: expected the offset table broadcast back on pid:\n$p")
    }
  }

  test("m20_stratified / d16_stratified_split: salted two-phase top-n, no bare stratum window") {
    // Resample.stratifiedFixed must keep its two-phase shape: a LOCAL
    // row_number keyed on (stratum, __b salt bucket) whose ≤ n·buckets
    // survivors alone feed the stratum-level rank — never one
    // row_number over the full fact slice per stratum (the grouped-
    // window funnel m20 fit e ≈ 2.1 on before the r10 rewrite). In the
    // final plan the outer (stratum-only) window appears ABOVE the
    // survivors filter, which sits ABOVE the salted local window.
    for ((q, stratum) <- Seq("m20_stratified" -> "rf",
        "d16_stratified_split" -> "lang")) {
      val p = plan(q).split("== Initial Plan ==")(0)
      val local = (s"windowspecdefinition\\($stratum#\\d+, __b#").r
      assert(local.findFirstIn(p).isDefined,
        s"$q: salted (stratum, __b) local top-n window missing:\n$p")
      val outer = (s"windowspecdefinition\\($stratum#\\d+, __u#").r
      val oPos = outer.findAllMatchIn(p).map(_.start).toList
      val lPos = local.findAllMatchIn(p).map(_.start).toList
      assert(oPos.size == 1 && lPos.size == 1,
        s"$q: expected exactly one local + one stratum window, got " +
          s"${oPos.size}/${lPos.size}:\n$p")
      // plan text is outermost-first: the stratum window must consume
      // the local window's filtered survivors, not the raw input
      assert(oPos.head < lPos.head,
        s"$q: stratum-level window is not downstream of the salted local pass:\n$p")
      val fPos = "Filter \\(__rk#\\d+ <= \\d+\\)".r.findAllMatchIn(p).map(_.start).toList
      assert(fPos.exists(f => oPos.head < f && f < lPos.head),
        s"$q: no survivors filter between the two rank passes:\n$p")
    }
  }

  test("m28_weight_diag: Gini ranks ride the grouped scan — no raw-column window") {
    // Diagnostics.weightDiagnostics computes the in-group weight ranks
    // via Windows.groupedScan; whichever path the probe picks (small =
    // one window keyed on the renamed __graft_g0 group key, large =
    // pid+group local sums behind the checkpoint), no window in the
    // plan may key on a raw data column. The large-path internals are
    // pinned in WindowsSpec ("scan internals").
    val p = plan("m28_weight_diag")
    val bad = "windowspecdefinition\\((?!__graft)".r.findAllIn(p).toList
    assert(bad.isEmpty,
      s"m28: rank window keyed on a raw column (bare grouped window):\n$p")
    assert(p.contains("windowspecdefinition(__graft_"),
      s"m28: expected the grouped scan's __graft-keyed rank window:\n$p")
  }

  test("mm_phash: rollup stays at the distinct-hash level — no id-level pair stream") {
    // perceptualDupStats hoists pair enumeration to hash CLASSES: the
    // band join and popcount verify key on ahash, per-image counts come
    // back by multiplicity arithmetic. An id×id pair list (quadratic
    // under dense duplication — ~350M rows at the 100x probe) would
    // re-surface as media_id-keyed join columns in the verify arm.
    val p = plan("mm_phash")
    assert(!p.contains("ida#") && !p.contains("idb#"),
      s"mm_phash regressed to the id-level pair list:\n$p")
    assert("hashpartitioning\\(ahash".r.findAllIn(p).nonEmpty ||
      p.contains("ha#") || p.contains("hb#"),
      s"expected the distinct-hash class join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"mm_phash must never go all-pairs:\n$p")
  }

  test("d13_semdedup: assignment is the codegen'd tree descent, never the n·k stream") {
    // With the corpus-derived cell count (k ∝ n), a flat broadcast-join
    // assignment streams n·k candidates — O(n²/cellSize), measured
    // 1715.8 s / 83 GB spill at the sf40 probe vs 19.7 s for the tree.
    // The descent must appear as the tree_nearest_child expression in a
    // plain project; any cid-keyed centroid join re-entering the plan
    // (beyond the cell-keyed PAIR join, which is the operator's point)
    // would re-surface as a cv#/cc# centroid column.
    val p = plan("d13_semdedup")
    assert(p.contains("tree_nearest_child"),
      s"d13 assignment lost the tree descent expression:\n$p")
    // anchored on token boundaries: a bare substring check would
    // false-positive on any attribute merely ENDING in cv/cc (an AQE
    // rename, a future column) — only a whole column named cv/cc is
    // the re-grown centroid table
    assert("(?<![A-Za-z0-9_])(cv|cc)#\\d+".r.findFirstIn(p).isEmpty,
      s"d13 re-grew a centroid-table join in the assignment path:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"d13 must never go all-pairs:\n$p")
  }
}
