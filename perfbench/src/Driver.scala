package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark process: builds the session, runs one discarded and
  * checked warm-up pass (set-up ends there), then timed passes of one
  * workload for the requested number of seconds (at least two), and
  * writes the raw run record as JSON. `run.py` turns the
  * record into the reported metrics.
  *
  * Arguments (all `--name value`): workload, input, work, out, seconds,
  * trace (0|1), cores, seed, launch-ms (epoch ms at process launch),
  * fail-step (step name that throws; self-test only), and any number of
  * `--param key=value` workload parameters. */
object Driver {
  final case class Opts(kv: Map[String, String], params: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def flag(k: String): Boolean = kv.get(k).contains("1")
    def param(k: String): String = params.getOrElse(k, sys.error(s"missing --param $k"))
    def seed: Long = apply("seed").toLong
    def work: String = apply("work")
  }

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", p) =>
        val Array(k, v) = p.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    Opts(kv.toMap, params.toMap)
  }

  def session(o: Opts): SparkSession = {
    val k = o("cores")
    SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StateStores.providerClass)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (o.flag("trace")) Some(new Trace) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      spark.streams.addListener(t.streaming)
    }
    val c = new Ctx(spark, o)
    val record = mutable.LinkedHashMap.empty[String, Any]
    try {
      val w = Workloads(o("workload"), c)
      val warm = c.runPass(w, 0, checked = true)
      record("setup_s") = (System.currentTimeMillis() - o("launch-ms").toLong) / 1000.0 -
        c.checkNs / 1e9
      val budgetNs = (o("seconds").toDouble * 1e9).toLong
      val t0 = System.nanoTime()
      var p = 1
      // at least two timed passes: with passes near the time budget a
      // run would otherwise take one or two, and the median would sit at
      // a different point of the JIT warm-up curve from run to run
      while (p <= 2 || System.nanoTime() - t0 < budgetNs) {
        val out = c.runPass(w, p, checked = false)
        // every timed pass must reproduce the checked pass's outputs
        if (warm.isDefined && out.isDefined)
          c.check(s"pass$p.same_outputs",
            w.signature(out.get.asInstanceOf[w.Out]) ==
              w.signature(warm.get.asInstanceOf[w.Out]), "")
        p += 1
      }
      warm match {
        case Some(out) => w.checks(c, out.asInstanceOf[w.Out])
        case None => c.check("warmup_pass", ok = false, "warm-up pass failed")
      }
      trace.foreach { t =>
        t.drain()
        warm.foreach(out => w.usefulWork(c, out.asInstanceOf[w.Out]))
        record("layer") = c.layerMetrics(t, w.steps)
        record("spans") = c.spanRecords(t)
      }
      record("input_rows") = w.inputRows
      record("extra") = c.extra
    } catch {
      case e: Throwable =>
        c.failed += 1; c.attempted += 1
        c.failures += s"run aborted: $e"
        e.printStackTrace()
    } finally {
      record("passes") = c.passes.map { p =>
        Map("pass" -> p.pass, "ok" -> p.ok, "wall_s" -> p.wallS, "busy_s" -> p.busyS,
          "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "jit_s" -> p.jitS)
      }
      record("attempted") = c.attempted
      record("failed") = c.failed
      record("failures") = c.failures.toSeq
      record("checks") = c.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq
      record("useful") = c.useful
      record("rss_peak_mb") = Ctx.vmHwmMb
      record("provenance") = Map(
        "master" -> spark.sparkContext.master,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "state_store" -> graft.streaming.StateStores.tag,
        "spark_version" -> spark.version)
      spark.streams.active.foreach(_.stop())
      spark.stop()
      val f = new java.io.PrintWriter(o("out"), "UTF-8")
      try f.write(org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
      finally f.close()
    }
    System.exit(0)
  }
}

final case class PassRec(pass: Int, ok: Boolean, wallS: Double, busyS: Double, cpuS: Double,
                         gcS: Double, jitS: Double, startMs: Long, endMs: Long)

/** Run state shared by the workloads: step timing, failure counting,
  * output checks, and the raw numbers a pass leaves behind. */
final class Ctx(val spark: SparkSession, val o: Driver.Opts) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val useful = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  /** Time spent inside [[checking]] blocks; kept out of set-up time. */
  var checkNs = 0L
  /** A workload whose pass wall time is set by a schedule rather than by
    * the program reports the program's own time of the pass here. */
  var passBusyS: Option[Double] = None
  private var nextId = 0
  private var passNo = 0
  private var passSpan = -1

  def newId(): Int = { nextId += 1; nextId }
  def pass: Int = passNo
  def input(name: String): DataFrame = spark.read.parquet(s"${o("input")}/$name.parquet")
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one step of the current pass inside its own span. A step that
    * throws is counted as failed and ends the pass. */
  def step[T](name: String, id: Int = newId())(body: => T): T = {
    attempted += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var ok = false
    try {
      if (o.kv.get("fail-step").contains(name))
        throw new IllegalStateException(s"injected failure in $name")
      val r = body
      ok = true
      r
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"pass $passNo $name: $e"
        throw e
    } finally {
      spans += Span(id, passSpan, name, passNo, s, System.currentTimeMillis(),
        System.nanoTime() - n0, ok)
      sc.setLocalProperty(Trace.SpanKey, null)
    }
  }

  /** Check-only work inside a pass; its time is not set-up time. */
  def checking[T](body: => T): T = {
    val n0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - n0
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $name failed: $detail" }
    checks += ((name, ok, detail))
  }

  /** One pass of `w`; None when a step failed (the pass is then not a
    * timing sample). */
  def runPass(w: Workload, p: Int, checked: Boolean): Option[Any] = {
    passNo = p
    passSpan = newId()
    passBusyS = None
    val cpu0 = Ctx.cpuNs
    val gc0 = Ctx.gcMs
    val jit0 = Ctx.jitMs
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = try Some(w.pass(this, checked)) catch {
      case e: Throwable =>
        if (!failures.exists(_.startsWith(s"pass $p "))) {
          failed += 1; attempted += 1; failures += s"pass $p: $e"
        }
        None
    }
    val dur = System.nanoTime() - n0
    val e = System.currentTimeMillis()
    spans += Span(passSpan, -1, "pass", p, s, e, dur, out.isDefined)
    passes += PassRec(p, out.isDefined, dur / 1e9, passBusyS.getOrElse(dur / 1e9),
      (Ctx.cpuNs - cpu0) / 1e9,
      (Ctx.gcMs - gc0) / 1000.0, (Ctx.jitMs - jit0) / 1000.0, s, e)
    spark.catalog.clearCache()
    out
  }

  private def measured: Seq[PassRec] = passes.filter(p => p.pass >= 1 && p.ok).toSeq

  /** Per-layer numbers of the traced run: medians over the timed passes.
    * A step without a span in the timed passes reports nothing. */
  def layerMetrics(t: Trace, steps: Seq[String]): Map[String, Double] = {
    val jobs = t.jobs.values.asScala.toSeq
    val bySpan = jobs.groupBy(_.span)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ps = measured
    def med(xs: Seq[Double]): Double = Ctx.quantile(xs, 0.5)
    steps.filter(st => spans.exists(s => s.pass >= 1 && s.name == st)).foreach { st =>
      val per = ps.map { p =>
        val ss = spans.filter(s => s.pass == p.pass && s.name == st)
        val js = ss.flatMap(s => bySpan.getOrElse(s.id, Nil))
        val busy = ss.map(_.durNs).sum / 1e9
        val cov = ss.map { s =>
          Trace.covered(bySpan.getOrElse(s.id, Nil).flatMap(_.intervals), s.startMs, s.endMs)
        }.sum / 1000.0
        (busy, js.size.toDouble, js.map(_.runMs).sum / 1000.0, math.max(0.0, busy - cov))
      }
      out(s"$st.busy_s") = med(per.map(_._1))
      out(s"$st.jobs") = med(per.map(_._2))
      out(s"$st.task_s") = med(per.map(_._3))
      out(s"$st.driver_s") = med(per.map(_._4))
    }
    val plans = t.plans.asScala.toSeq
    val perPass = ps.map { p =>
      val js = jobs.filter(j => j.startMs >= p.startMs && j.startMs <= p.endMs)
      val taskS = js.map(_.runMs).sum / 1000.0
      val cov = Trace.covered(js.flatMap(_.intervals), p.startMs, p.endMs) / 1000.0
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> js.map(_.stages).sum.toDouble,
        "spark.tasks" -> js.map(_.tasks).sum.toDouble,
        "spark.task_s" -> taskS,
        "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "spark.eff_cores" -> taskS / p.wallS,
        "spark.driver_s" -> math.max(0.0, p.wallS - cov),
        "spark.plan_s" -> plans.filter(x => x._1 >= p.startMs && x._1 <= p.endMs)
          .map(_._2).sum / 1000.0,
        "spark.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        "spark.spill_mb" -> js.map(_.spillBytes).sum / 1e6,
        "spark.gc_s" -> p.gcS,
        "spark.task_retries" -> js.map(_.retries).sum.toDouble)
    }
    if (perPass.nonEmpty)
      perPass.head.keys.foreach(k => out(k) = med(perPass.map(_(k))))
    out("trace.pass_s_p50") = med(ps.map(_.busyS))
    out("jvm.cpu_s") = med(ps.map(_.cpuS))
    out("jvm.jit_s") = med(ps.map(_.jitS))
    // streaming progress of the timed passes' queries
    val prog = t.progress.asScala.toSeq.filter { q =>
      val ts = java.time.Instant.parse(q.timestamp).toEpochMilli
      ps.exists(p => ts >= p.startMs && ts <= p.endMs)
    }
    if (prog.nonEmpty) {
      def dur(k: String) = prog.map(q => Option(q.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      out("streaming.triggers") = prog.size.toDouble / ps.size
      out("streaming.add_batch_ms_p50") = med(dur("addBatch"))
      out("streaming.plan_ms_p50") = med(dur("queryPlanning"))
      out("streaming.wal_ms_p50") = med(dur("walCommit"))
      val perQueryLast = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
      val st = perQueryLast.flatMap(_.stateOperators.toSeq)
      out("streaming.state_rows") = st.map(_.numRowsTotal).sum.toDouble / ps.size
      out("streaming.state_mb") = st.map(_.memoryUsedBytes).sum / 1e6 / ps.size
      out("streaming.late_rows") = prog.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum.toDouble / ps.size
    }
    out.toMap
  }

  /** Spans of the traced run: pass -> step -> Spark job. */
  def spanRecords(t: Trace): Seq[Map[String, Any]] = {
    val s = spans.toSeq.map { x =>
      Map("id" -> x.id, "parent" -> x.parent, "name" -> x.name, "pass" -> x.pass,
        "start_ms" -> x.startMs, "end_ms" -> x.endMs, "ok" -> x.ok)
    }
    val j = t.jobs.values.asScala.toSeq.sortBy(_.id).map { x =>
      Map("id" -> s"job${x.id}", "parent" -> x.span, "name" -> "spark.job",
        "start_ms" -> x.startMs, "end_ms" -> x.endMs, "tasks" -> x.tasks,
        "task_ms" -> x.runMs)
    }
    s ++ j
  }
}

object Ctx {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }

  /** Linear-interpolation quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
