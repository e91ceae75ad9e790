package graft

import org.apache.spark.sql.SparkSession

/** Driver benchmark contract: run every declared query on
  * SPARK_GRAFT_SF_DIR, print ONE final JSON line with total seconds.
  *
  * Honesty rules:
  *  - results are consumed with collect() (count() lets Catalyst drop
  *    top-level sorts and projects, under-measuring ordered queries);
  *  - the whole query list runs as two INTERLEAVED passes (pass 1 over
  *    every query, then pass 2) and the per-query MINIMUM is reported —
  *    back-to-back min-of-2 per query let first-touch costs (AQE init,
  *    JIT of a fresh aggregate pipeline, post-warmup GC) land on both
  *    samples of whichever query ran first;
  *  - an untimed warmup covers JVM + parquet footer startup;
  *  - a query that throws is reported as -1 (never its tiny
  *    time-to-failure) and listed under "failed".
  *
  * The per-query map is also written to bench_queries.json and echoed
  * in ≤25-entry chunk lines so a log line-length cap cannot truncate
  * timings irrecoverably (r1 lost 16, r2 lost 3 to the cap).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(4)
    spark.sparkContext.setLogLevel("WARN")

    // Per-query spill tracking (task-metrics listener): at sf>=10 the
    // min-of-passes variance signature (+/-30-50%) is spill-driven, and
    // re-probing to prove it is a session of work — record disk-spill
    // bytes per query in the artifact instead. Attribution is
    // best-effort: the listener bus is async, so a task-end event can
    // land after the query's collect returns; the snapshot is taken
    // after the (job-free, driver-side) clearCache, which in practice
    // drains the bus. A few KB of cross-talk would not matter — the
    // signal of interest is "0 vs gigabytes".
    val spillAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spillAcc.addAndGet(m.diskBytesSpilled)
      }
    })

    // untimed warmup: parquet footers + codegen pipeline init
    graft.core.Tables.names.foreach { n =>
      try {
        val t = if (n == "events") graft.core.Tables.events(spark, sfDir)
                else graft.core.Tables(spark, sfDir, n)
        t.count()
      } catch { case _: Throwable => () }
    }
    try SparkEntry.queries.get("q1_agg").foreach(_(spark, sfDir).collect())
    catch { case _: Throwable => () }

    // a sink the JIT cannot prove dead
    var blackhole = 0L
    // At scale-up SFs a driver-side collect() of a row-returning query
    // (filters, windows, row-id) is a 60M-row driver transfer — the one
    // place the HARNESS, not the engine, is the scale bottleneck. With
    // SPARK_GRAFT_BENCH_DISTRIBUTED_SINK set, rows are counted where
    // they land (executors) via foreachPartition + accumulator: unlike
    // count(), this does NOT rewrite the logical plan, so top-level
    // sorts/projects still execute and the honesty rule holds.
    val distributedSink = sys.env.contains("SPARK_GRAFT_BENCH_DISTRIBUTED_SINK")
    val rowsAcc = spark.sparkContext.longAccumulator("graft_bench_rows")
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean, Long) = {
      val spill0 = spillAcc.get()
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = fn(spark, sfDir)
          if (distributedSink) {
            val before = rowsAcc.value
            df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
              var n = 0L; while (it.hasNext) { it.next(); n += 1 }
              rowsAcc.add(n)
            }
            blackhole += rowsAcc.value - before
          } else blackhole += df.collect().length
          true
        }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // residual caches from iterative queries would otherwise pile up
      // across 100+ queries × passes; cleared OUTSIDE the timed region
      spark.catalog.clearCache()
      (dt, ok, spillAcc.get() - spill0)
    }
    // optional comma-separated filter for local iteration on hot queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def pass(): Seq[(String, (Double, Boolean, Long))] =
      queries.map { case (name, fn) => name -> timeOnce(fn) }
    val p1 = pass().toMap
    val p2 = pass().toMap
    // adaptive third sample: when the two interleaved passes disagree
    // by >30% the smaller one may still carry transient load — re-time
    // just those queries so a noisy machine doesn't inflate the min
    val unstable = queries.filter { case (name, _) =>
      val (a, aOk, _) = p1(name); val (b, bOk, _) = p2(name)
      aOk && bOk && math.abs(a - b) / math.min(a, b) > 0.3
    }
    val p3 = unstable.map { case (name, fn) => name -> timeOnce(fn) }.toMap
    val results: Seq[(String, Double)] = queries.map { case (name, _) =>
      val samples = (Seq(p1(name), p2(name)) ++ p3.get(name))
        .filter(_._2).map(_._1)
      name -> (if (samples.isEmpty) -1.0 else samples.min)
    }
    // PEAK spill per query (max over successful passes): the min-time
    // pass is often the one that stayed in memory, so attributing spill
    // to it would under-report exactly the threshold-straddling queries
    // the metric exists to catch
    val spillOf: Map[String, Long] = queries.map { case (name, _) =>
      val s = (Seq(p1(name), p2(name)) ++ p3.get(name))
        .filter(_._2).map(_._3)
      name -> (if (s.isEmpty) 0L else s.max)
    }.toMap
    // per-query pass SPREAD ((max−min)/min over the successful samples):
    // the host shows 30–60% invocation drift on unchanged queries, so a
    // round-over-round min delta is only interpretable next to the
    // spread the same run observed — a +25% headline move inside a 40%
    // spread is noise; outside it, signal
    val spreadOf: Map[String, Double] = queries.map { case (name, _) =>
      val s = (Seq(p1(name), p2(name)) ++ p3.get(name))
        .filter(_._2).map(_._1)
      name -> (if (s.size < 2 || s.min <= 0) 0.0 else (s.max - s.min) / s.min)
    }.toMap
    // drift diagnosis: the reported min-of-passes hides WHEN a query
    // was slow. With SPARK_GRAFT_BENCH_DEBUG set, dump every raw pass
    // sample so a session-level accumulation (pass 2 systematically
    // slower than pass 1 — codegen cache churn, metaspace growth)
    // separates from plan regressions (both passes slower).
    sys.env.get("SPARK_GRAFT_BENCH_DEBUG").foreach { path =>
      def m(p: Map[String, (Double, Boolean, Long)]): String =
        p.toSeq.sortBy(_._1).map { case (k, (v, ok, _)) =>
          "\"" + k + "\":" + (if (ok) (math.rint(v * 1e3) / 1e3).toString else "-1")
        }.mkString("{", ",", "}")
      val w = new java.io.PrintWriter(path)
      try w.println(s"""{"pass1":${m(p1)},"pass2":${m(p2)},"pass3":${m(p3)}}""")
      finally w.close()
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    // the timing map carries SUCCEEDED queries only — the "failed" array
    // already identifies the rest, and a -1.0 sentinel would corrupt any
    // consumer that sums or compares the map ("value" = sum of succeeded)
    val succeeded = results.filter(_._2 >= 0)

    def r3(v: Double): Double = math.rint(v * 1e3) / 1e3
    def entry(k: String, v: Double): String = "\"" + k + "\":" + r3(v)
    val qs = succeeded.map { case (k, v) => entry(k, v) }.mkString("{", ",", "}")
    val total = r3(succeeded.map(_._2).sum)
    val sfName = new java.io.File(sfDir).getName

    // full map to a file + chunked echo lines: immune to log-line caps.
    // Also written round-suffixed (next round inferred from committed
    // BENCH_r*.json) so each round's full per-query data survives even
    // though bench_queries.json itself is overwritten every round.
    val failedJson = failed.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")
    // spill map carries only the queries that actually spilled — at
    // sf0.1 that is usually empty; at sf>=10 it is the regime-crossing
    // diagnostic the growth tooling reads
    def spillJson(names: Seq[String]): String = names
      .flatMap(n => spillOf.get(n).filter(_ > 0).map(v => "\"" + n + "\":" + v))
      .mkString("{", ",", "}")
    val spreadJson = succeeded
      .map { case (n, _) => "\"" + n + "\":" + r3(spreadOf(n)) }
      .mkString("{", ",", "}")
    val spreads = succeeded.map { case (n, _) => spreadOf(n) }.sorted
    val medianSpread =
      if (spreads.isEmpty) 0.0 else spreads(spreads.length / 2)
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfName","failed":$failedJson,"rows":$blackhole,"spill_bytes":${spillJson(succeeded.map(_._1))},"spread":$spreadJson,"median_spread":${r3(medianSpread)},"max_spread":${r3(if (spreads.isEmpty) 0.0 else spreads.last)}}"""
    // never clobber the committed artifacts from a FILTERED local
    // iteration (SPARK_GRAFT_BENCH_ONLY) — a 6-query map overwriting the
    // full catalog would corrupt round-over-round comparisons — nor
    // from a distributed-sink scale probe, whose numbers are not
    // comparable to the driver's collect()-sink sf0.1 rounds
    if (only.isEmpty && !distributedSink) try {
      val w = new java.io.PrintWriter("bench_queries.json")
      try w.println(detail) finally w.close()
      val rounds = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toInt))
      val next = (rounds :+ 0).max + 1
      val w2 = new java.io.PrintWriter(f"bench_queries_r$next%02d.json")
      try w2.println(detail) finally w2.close()
    } catch { case _: Throwable => () }
    succeeded.grouped(25).zipWithIndex.foreach { case (chunk, i) =>
      val m = chunk.map { case (k, v) => entry(k, v) }.mkString("{", ",", "}")
      println(s"""{"bench_chunk":$i,"queries":$m,"spill_bytes":${spillJson(chunk.map(_._1))}}""")
    }
    // The driver tails the log with a fixed byte window; r1-r3 all lost
    // the final line to it (r3: the whole line went unparsed). The LAST
    // line therefore stays under a hard byte budget: most expensive
    // queries first, cheapest dropped once the budget is reached — the
    // complete map is in bench_queries.json (committed) and the chunk
    // lines above.
    val budget = 1500
    val suffix = s""""sf":"$sfName","failed":$failedJson,"rows":$blackhole,"median_spread":${r3(medianSpread)},"max_spread":${r3(if (spreads.isEmpty) 0.0 else spreads.last)},"queries_full":"bench_queries.json"}"""
    val prefix = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    val byCost = succeeded.sortBy(-_._2).map { case (k, v) => entry(k, v) }
    val room = budget - prefix.length - suffix.length - 2
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    byCost.foreach { e =>
      if (used + e.length + 1 <= room) { kept += e; used += e.length + 1 }
    }
    println(prefix + kept.mkString(",") + "},\"queries_shown\":" + kept.length +
      ",\"queries_total\":" + results.length + "," + suffix)
    spark.stop()
  }
}
