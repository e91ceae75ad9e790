package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Bridge
import org.apache.spark.sql.{Row, SparkSession}

/** JVM half of the graft benchmark (graftbench/run.py is the other
  * half). One driver thread runs a closed loop of ops against graft's
  * public API: a cold set-up, `SetupRounds` timed re-setups, an untimed
  * warm-up, then timed ops until their summed wall time reaches
  * `--seconds` and the workload has `minOps` of them. Output checks and
  * listener-bus drains happen between ops, and the live-heap sample
  * after the last one, outside the timed region. Everything measured is written as raw JSON to
  * `--out`; run.py turns it into metrics.
  *
  * With `--trace 1` a SparkListener records every job, task, SQL
  * execution and the benchmark's own call spans; with `--trace 0` no
  * listener is registered and spans are plain calls.
  */
object GraftBench {

  /** Warm set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = Opts(args)
    val workload: Workload = opts("workload") match {
      case "mc_ref"  => new McRef(opts)
      case "catalog" => new Catalog(opts)
      case other     => sys.error(s"unknown workload $other")
    }
    val out = new Json.Obj
    val tracer = new Tracer(opts("trace") == "1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: a fresh session plus the workload's data. The first one,
    // timed from JVM start, is cold (JVM boot, class loading, JIT); the
    // re-setups after it, each after the previous session has stopped
    // and been collected, are the timed rounds. The warm-up runs on the
    // last session: the first op on a new session runs slower
    var spark = session(opts)
    workload.setup(spark)
    out("cold_setup_s") = Json.num((System.currentTimeMillis() - jvmStartMs) / 1e3)
    val setupS = (1 to SetupRounds).map { _ =>
      spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = session(opts)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_rounds_s") = Json.arr(setupS.map(Json.num))

    val warm0 = System.nanoTime()
    workload.warmup(spark, tracer)
    out("warmup_s") = Json.num((System.nanoTime() - warm0) / 1e9)
    if (tracer.on) { spark.sparkContext.addSparkListener(tracer); tracer.reset() }
    // the timed ops start on a collected heap
    System.gc()

    val ops = new Json.Arr
    var timed = 0.0
    var n = 0
    val budget = opts("seconds").toDouble
    val it = workload.ops
    while (timed < budget || n < workload.minOps || !workload.atBoundary) {
      n += 1
      val op = it.next()
      val rec = new Json.Obj
      rec("name") = Json.str(op.name)
      rec("family") = Json.str(op.family)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = try Right(op.run(spark, tracer)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      timed += wall
      rec("wall_s") = Json.num(wall)
      rec("start_ms") = Json.num(startMs.toDouble)
      rec("end_ms") = Json.num(endMs.toDouble)
      if (tracer.on) {
        Bridge.drain(spark.sparkContext)
        rec("codegen_compiles") = Json.num(
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble)
        tracer.dumpInto(rec)
      }
      result match {
        case Left(e) =>
          rec("ok") = Json.bool(false)
          rec("error") = Json.str(s"${e.getClass.getName}: ${e.getMessage}".take(400))
        case Right(output) =>
          rec("ok") = Json.bool(true)
          val chk = try op.check(spark, output)
            catch { case e: Throwable => Check(false, s"check threw ${e.getClass.getName}: ${e.getMessage}".take(400)) }
          rec("check_ok") = Json.bool(chk.ok)
          rec("check") = Json.str(chk.detail)
          rec("digest") = Json.str(op.digest(output))
          rec("rows") = Json.num(op.rows(output).toDouble)
      }
      op.after(spark)
      // bookkeeping jobs (checks, cache clears) are not the op's work
      if (tracer.on) { Bridge.drain(spark.sparkContext); tracer.reset() }
      ops.add(rec)
    }
    out("ops") = ops
    out("live_heap_mb") = Json.num(liveHeapMb())
    out("cores") = Json.num(spark.sparkContext.defaultParallelism.toDouble)
    spark.stop()
    val w = new java.io.PrintWriter(opts("out"), "UTF-8")
    try w.print(out.render) finally w.close()
  }

  /** Driver heap in use after the last op, right after a full
    * collection. The first collection lets Spark's ContextCleaner see
    * unreachable broadcasts and shuffles; the second, after it has
    * removed their blocks, measures what is live. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(opts: Opts): SparkSession = {
    val b = SparkSession.builder()
    opts.confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** `--key value` arguments; `--conf k=v` may repeat. */
final case class Opts(args: Array[String]) {
  private val pairs = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toSeq
  val confs: Seq[(String, String)] = pairs.collect {
    case ("conf", kv) if kv.contains("=") =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
  }
  private val map = pairs.filter(_._1 != "conf").toMap
  def apply(k: String): String = map.getOrElse(k, sys.error(s"missing --$k"))
  def long(k: String): Long = apply(k).toLong
}

final case class Check(ok: Boolean, detail: String)

/** One closed-loop operation. `run` is the timed part; `check` and
  * `digest` run after the clock has stopped. */
trait Op {
  def name: String
  def family: String
  def run(spark: SparkSession, tr: Tracer): Any
  def check(spark: SparkSession, output: Any): Check
  def digest(output: Any): String
  def rows(output: Any): Long = 0L
  /** Untimed clean-up after `run` and `check`, whether or not `run` threw. */
  def after(spark: SparkSession): Unit = ()
}

trait Workload {
  def setup(spark: SparkSession): Unit
  def warmup(spark: SparkSession, tr: Tracer): Unit
  def ops: Iterator[Op]
  /** Fewest timed ops a run makes, whatever its time budget. */
  def minOps: Int
  /** True when stopping now leaves every op of the workload's cycle
    * sampled equally often. */
  def atBoundary: Boolean
}

/** Deterministic 64-bit mixing (SplitMix64): seed → salts, orders. */
object Mix {
  def apply(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def salt(seed: Long, stream: Long, k: Long): Long =
    Mix(Mix(Mix(seed) ^ stream) ^ k) & 0x7FFFFFFFL
}

/** SHA-256 of canonical text. */
object Digest {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Canonical text of one value: null is a NUL character, -0.0 folds
    * to 0.0, maps sort by key text, nested rows and arrays recurse. */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      if (d == 0.0) "0.0" else if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: column names, then the
    * sorted canonical rows. */
  def rows(columns: Seq[String], rows: Seq[Row]): String =
    sha256((columns.mkString("|") +: rows.map(canon).sorted).mkString("\n"))

  /** Digest of estimates rounded to `sig` significant digits, so
    * last-bit reassociation noise cannot flip it. */
  def estimates(values: Seq[(String, Double)], sig: Int = 8): String =
    sha256(values.map { case (k, v) =>
      val r = if (v == 0.0 || v.isNaN || v.isInfinite) v
              else new java.math.BigDecimal(v).round(new java.math.MathContext(sig)).doubleValue
      k + "=" + canon(r)
    }.mkString("\n"))
}



/** Listener + span recorder. Keeps everything in memory; `dumpInto`
  * copies one op's records into its JSON after the bus is drained. */
final class Tracer(val on: Boolean) extends SparkListener {
  private final class JobRec(val id: Int, val start: Long, val execId: Long) {
    var end = -1L
    var stagesRun = 0
    val agg = new Array[Double](8) // tasks, failed, run_s, cpu_s, gc_s, shr, shw, spill (MB)
  }
  private final class ExecRec(val id: Long, val root: Long, val start: Long,
      val details: String, val graftSource: Boolean) {
    var planS = 0.0
  }
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private val execs = scala.collection.mutable.LinkedHashMap.empty[Long, ExecRec]
  private val spans = ArrayBuffer.empty[(String, String, Long, Long)]

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); execs.clear(); spans.clear()
  }

  /** Time a call into graft module `module`; a no-op when tracing is off. */
  def span[A](name: String, module: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis()
      try f finally synchronized { spans += ((name, module, t0, System.currentTimeMillis())) }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, e.time, exec)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val a = j.agg
      a(0) += 1
      if (e.reason != org.apache.spark.Success) a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorRunTime / 1e3
        a(3) += m.executorCpuTime / 1e9
        a(4) += m.jvmGCTime / 1e3
        a(5) += (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0
        a(6) += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        a(7) += m.diskBytesSpilled / 1048576.0
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // module attribution reads only the first call-site frames
      val frames = Option(s.details).getOrElse("").split("\n").map(_.trim)
        .filter(_.nonEmpty).take(12).mkString("\n")
      // a scan of a graft.sources relation names its table (graft_*) or
      // its Scan class
      val graftSource = Option(s.physicalPlanDescription).exists(p =>
        p.contains("BatchScan graft_") || p.contains("graft.sources."))
      execs(s.executionId) = new ExecRec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.time, frames, graftSource)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
        execs.get(x.executionId).foreach(_.planS = Bridge.planSeconds(x))
    }
    case _ => ()
  }

  def dumpInto(rec: Json.Obj): Unit = synchronized {
    val ja = new Json.Arr
    jobs.foreach { j =>
      val o = new Json.Obj
      o("start_ms") = Json.num(j.start.toDouble)
      o("end_ms") = Json.num((if (j.end < 0) j.start else j.end).toDouble)
      o("exec") = Json.num(j.execId.toDouble)
      o("stages") = Json.num(j.stagesRun.toDouble)
      Seq("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb").zipWithIndex.foreach { case (k, i) =>
        o(k) = Json.num(j.agg(i))
      }
      ja.add(o)
    }
    rec("jobs") = ja
    val eo = new Json.Obj
    execs.values.foreach { x =>
      val o = new Json.Obj
      o("root") = Json.num(x.root.toDouble)
      o("start_ms") = Json.num(x.start.toDouble)
      o("details") = Json.str(x.details)
      o("graft_source") = Json.bool(x.graftSource)
      o("plan_s") = Json.num(x.planS)
      eo(x.id.toString) = o
    }
    rec("execs") = eo
    rec("spans") = Json.arr(spans.map { case (n, m, a, b) =>
      Json.arr(Seq(Json.str(n), Json.str(m), Json.num(a.toDouble), Json.num(b.toDouble)))
    })
  }
}

/** Minimal JSON writer (the benchmark adds no dependencies). */
object Json {
  sealed trait V { def render: String }
  final case class Raw(render: String) extends V
  def num(d: Double): V = Raw(if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
  def bool(b: Boolean): V = Raw(b.toString)
  def str(s: String): V = Raw(quote(s))
  def arr(xs: Iterable[V]): Arr = { val a = new Arr; xs.foreach(a.add); a }
  final class Arr extends V {
    private val xs = ArrayBuffer.empty[V]
    def add(v: V): Unit = xs += v
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final class Obj extends V {
    private val kv = scala.collection.mutable.LinkedHashMap.empty[String, V]
    def update(k: String, v: V): Unit = kv(k) = v
    def render: String = kv.map { case (k, v) => quote(k) + ":" + v.render }.mkString("{", ",", "}")
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
