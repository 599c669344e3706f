package perfbench

import org.apache.spark.Bus
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

object Stats {
  /** Linear-interpolated quantile of `xs` (the q-th, 0 <= q <= 1). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One run of one workload: set up the engine several times, warm up,
  * then drive a closed loop (one client, next op only after the previous
  * result is collected and checked) for the requested time, and print the
  * result record as the last line of stdout.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir>
  */
object Main {
  val OpTimeoutMs = 60000.0
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Session settings; identical on both sides of any comparison. */
  def sessionConf(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  final class Phase {
    var attempted = 0L; var failed = 0L
    val firstErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(kind: String, error: Option[String]): Unit = {
      attempted += 1
      error.foreach { e => failed += 1; if (!firstErrors.contains(kind)) firstErrors(kind) = e }
    }
    def json: String = {
      val errs = firstErrors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      s"""{"attempted":$attempted,"succeeded":${attempted - failed},"failed":$failed,""" +
        s""""first_errors":{${errs.mkString(",")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.byName(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors
    new File(work).mkdirs()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val tSession = System.nanoTime()
    val conf = sessionConf(cores, work)
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextMs = (System.nanoTime() - tSession) / 1e6
    // first job pays class loading and codegen set-up once per JVM
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    val sessionMs = (System.nanoTime() - tSession) / 1e6

    val sc = spark.sparkContext
    val tr = new Tracer(sc)
    val counters = new SparkCounters
    val env = new Env(spark, tr, seed, cores)
    val setupPhase = new Phase
    val timedPhase = new Phase

    // ---------------------------------------------------------- set-up
    // Every set-up builds a fresh engine; the window runs on the last one,
    // after a warm-up that drives the op mix untimed, so that the JIT has
    // compiled the query paths and the fresh engine's first touches are
    // paid.
    val setupS = ArrayBuffer.empty[Double]
    var inst: Instance = null
    tr.on = traced
    for (_ <- 1 to Setups if setupPhase.failed == 0) {
      if (inst != null) { inst.release(); inst = null }
      val t0 = System.nanoTime()
      try {
        inst = tr("setup")(wl.setup(env))
        setupS += (System.nanoTime() - t0) / 1e9
        setupPhase.record("setup", None)
      } catch { case e: Throwable => setupPhase.record("setup", Some(message(e))) }
    }
    tr.on = false
    val setupSpans = tr.recorded

    var opId = 0L
    def runOp(op: Op): Outcome = {
      opId += 1
      tr.op = opId
      val t0 = System.nanoTime()
      val res = try Right(tr(s"op.${op.kind}")(op.run())) catch { case e: Throwable => Left(message(e)) }
      val ms = (System.nanoTime() - t0) / 1e6
      tr.op = -1L
      val error = res match {
        case Left(m) => Some(m)
        case Right(r) =>
          val checked = try r.check() catch { case e: Throwable => Some("check threw: " + message(e)) }
          checked.orElse(if (ms > OpTimeoutMs) Some(f"timed out: $ms%.0f ms") else None)
      }
      Outcome(op, opId, ms, error, res.toOption.map(_.parts).getOrElse(Map.empty))
    }
    /** Whole blocks of the mix until `secs` have passed. */
    def window(secs: Double, rng: Random): Seq[Outcome] = {
      val out = ArrayBuffer.empty[Outcome]
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      while (System.nanoTime() < deadline)
        inst.block(rng).foreach { op =>
          val o = runOp(op)
          timedPhase.record(op.kind, o.error)
          out += o
        }
      out.toSeq
    }

    var warmupS = 0.0
    if (setupPhase.failed == 0) {
      val tw = System.nanoTime()
      // its own stream, so the timed window's ops depend on the seed alone
      val wrng = new Random(seed ^ 0x5eedL)
      for (_ <- 1 to wl.warmupBlocks if setupPhase.failed == 0)
        inst.block(wrng).foreach(op => setupPhase.record("warmup." + op.kind, runOp(op).error))
      warmupS = (System.nanoTime() - tw) / 1e9
    }

    // ----------------------------------------------------------- timed
    var plain = Seq.empty[Outcome]
    var tracedOut = Seq.empty[Outcome]
    var gcMs = 0L
    var heapPeak = 0.0
    if (setupPhase.failed == 0) {
      val rng = new Random(seed)
      plain = window(if (traced) seconds / 2 else seconds, rng)
      if (traced) {
        sc.addSparkListener(counters)
        tr.on = true
        Jvm.resetHeapPeak()
        val gc0 = Jvm.gcMs
        tracedOut = window(seconds / 2, rng)
        gcMs = Jvm.gcMs - gc0
        heapPeak = Jvm.heapPeakMb
        tr.on = false
        Bus.drain(sc)
      }
    }

    val e2e = endToEnd(plain, setupS.toSeq)
    val extras = if (inst != null && plain.nonEmpty) inst.extras(plain) else Map.empty[String, Double]
    val perLayer = if (traced && tracedOut.nonEmpty)
      Layers.metrics(tracedOut, plain, tr, setupSpans, counters, cores, sessionMs, gcMs, heapPeak)
    else Seq.empty
    val failed = setupPhase.failed + timedPhase.failed
    val attempted = math.max(1L, setupPhase.attempted + timedPhase.attempted)
    val correct = failed == 0 && plain.nonEmpty

    // ----------------------------------------------------------- report
    val tag = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
    val kinds = plain.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      s"${Json.str(k)}:{" + s""""n":${os.size},"p50_ms":${Json.num(Stats.median(os.map(_.latencyMs)))}}"""
    }
    val beyondP95 = plain.count(_.latencyMs > e2e.find(_._1 == "latency_p95_ms").get._3)
    val report =
      s"""{"workload":${Json.str(wl.name)},"seed":$seed,"seconds":$seconds,"traced":$traced,""" +
        s""""cores":$cores,"session":{${conf.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}},""" +
        s""""jvm_start_ms":${Json.num(jvmStartMs)},"context_ms":${Json.num(contextMs)},""" +
        s""""session_ms":${Json.num(sessionMs)},"setup_s":[${setupS.map(Json.num).mkString(",")}],""" +
        s""""warmup_s":${Json.num(warmupS)},"ops":${plain.size},"samples_beyond_p95":$beyondP95,""" +
        s""""error_rate":${Json.num(timedPhase.failed.toDouble / math.max(1L, timedPhase.attempted))},""" +
        s""""failures":{"setup":${setupPhase.json},"timed":${timedPhase.json}},""" +
        s""""kinds":{${kinds.mkString(",")}},""" +
        s""""latencies_ms":[${plain.map(o => Json.num(o.latencyMs)).mkString(",")}],""" +
        s""""end_to_end":${Json.metrics(e2e)},"extras":{${extras.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
        s""""per_layer":${Json.metrics(perLayer)}}"""
    writeFile(s"$work/$tag.report.json", report + "\n")
    if (traced) writeSpans(s"$work/$tag.spans.jsonl", tr)
    println(s"[perfbench] report $report")

    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.metrics(if (traced) perLayer else e2e)}}""")
    sys.exit(if (correct) 0 else 1)
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .nextOption().getOrElse("").take(300)

  /** End-to-end metrics of an untraced window: (name, unit, value). */
  def endToEnd(os: Seq[Outcome], setupS: Seq[Double]): Seq[(String, String, Double)] = {
    val ok = os.filter(_.error.isEmpty)
    val busyS = os.map(_.latencyMs).sum / 1e3
    // a failed op misses every latency target
    val lat = os.map(o => if (o.error.isEmpty) o.latencyMs else Double.PositiveInfinity)
    Seq(
      ("setup_s", "s", Stats.median(setupS)),
      ("ops_per_s", "ops/s", ok.size / busyS),
      ("latency_p50_ms", "ms", Stats.quantile(lat, 0.5)),
      ("latency_p95_ms", "ms", Stats.quantile(lat, 0.95)),
      ("rows_per_s", "rows/s", ok.map(_.op.rows).sum / busyS),
      ("peak_rss_mb", "MB", Jvm.peakRssMb))
  }

  def writeFile(path: String, s: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  def writeSpans(path: String, tr: Tracer): Unit = {
    val self = tr.selfMs
    val w = new PrintWriter(path, "UTF-8")
    try tr.recorded.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"ms":${Json.num(s.ms)},"self_ms":${Json.num(self(s.id))}}""")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, String, Double)]): String =
    ms.map { case (n, u, v) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
}
