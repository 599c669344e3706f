package perfbench

/** Per-layer metrics of a traced window, per op unless the unit says
  * otherwise. Layers are the program's modules as the benchmark reaches
  * them: `bql` (parse, plan, commands), Spark execution (the returned
  * frame's action), `engine` (estimator UDFs on executors), `backends`
  * (ANALYZE), set-up, `operators` (dedup stages) and the JVM. */
object Layers {
  def metrics(ops: Seq[Outcome], plain: Seq[Outcome], tr: Tracer, setupSpans: Seq[Span],
      counters: SparkCounters, cores: Int, sessionMs: Double, gcMs: Long,
      heapPeakMb: Double): Seq[(String, String, Double)] = {
    val n = ops.size.toDouble
    val ids = ops.map(_.id).toSet
    val spans = tr.recorded.filter(s => ids(s.op))
    def spanMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
    def calls(name: String): Double = spans.count(_.name == name)
    val accs = counters.select(ids)
    def sum(f: counters.Acc => Double): Double = accs.map(f).sum
    val busyMs = ops.map(_.latencyMs).sum
    val rows = ops.map(_.op.rows).sum.toDouble

    // ANALYZE runs as one job fanning the models out, one task each; the
    // slowest chain sets its time
    val analyze = counters.select(ids, _ == "bql.command").filter(_.taskMs.nonEmpty)
    val analyzeMs = spanMs("bql.command")
    val sweeps = ops.flatMap(_.parts.get("sweeps")).sum
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // set-up spans: one set per repetition; report the median repetition
    def setupMs(name: String): Double = {
      val reps = setupSpans.filter(_.name == "setup")
      Stats.median(reps.map(r => setupSpans.filter(s =>
        s.name == name && s.start >= r.start && s.end <= r.end).map(_.ms).sum))
    }

    val cands = ops.flatMap(_.parts.get("candidates")).sum
    val verified = ops.flatMap(_.parts.get("verified")).sum
    val p50 = (os: Seq[Outcome]) => Stats.median(os.map(_.latencyMs))

    Seq(
      ("bql.parse.ms", "ms/op", spanMs("bql.parse") / n),
      ("bql.parse.calls", "count/op", calls("bql.parse") / n),
      ("bql.plan.ms", "ms/op", spanMs("bql.plan") / n),
      ("bql.plan.calls", "count/op", calls("bql.plan") / n),
      ("spark.collect.ms", "ms/op", spanMs("spark.collect") / n),
      ("spark.jobs", "count/op", sum(_.jobs.toDouble) / n),
      ("spark.stages", "count/op", sum(_.stages.toDouble) / n),
      ("spark.tasks", "count/op", sum(_.tasks.toDouble) / n),
      ("spark.task_run_ms", "ms/op", sum(_.runMs.toDouble) / n),
      ("spark.task_cpu_ms", "ms/op", sum(_.cpuNs / 1e6) / n),
      ("spark.task_deser_ms", "ms/op", sum(_.deserMs.toDouble) / n),
      ("spark.task_gc_ms", "ms/op", sum(_.gcMs.toDouble) / n),
      ("spark.sched_wait_ms", "ms/op", sum(_.schedWaitMs.toDouble) / n),
      ("spark.stage_wall_ms", "ms/op", sum(_.stageWallMs.toDouble) / n),
      ("spark.core_util", "fraction", sum(_.runMs.toDouble) / (busyMs * cores)),
      ("spark.shuffle_write_bytes", "bytes/op", sum(_.shuffleWrite.toDouble) / n),
      ("spark.input_rows", "rows/op", sum(_.inputRows.toDouble) / n),
      ("spark.result_bytes", "bytes/op", sum(_.resultBytes.toDouble) / n),
      ("engine.cpu_us_per_row", "us/row", sum(_.cpuNs / 1e3) / rows),
      ("backends.analyze.ms", "ms/op", analyzeMs / n),
      ("backends.analyze.task_max_ms", "ms", mean(analyze.map(_.taskMs.max.toDouble))),
      ("backends.analyze.task_median_ms", "ms",
        mean(analyze.map(a => Stats.median(a.taskMs.map(_.toDouble).toSeq)))),
      ("backends.sweeps_per_s", "sweeps/s", if (analyzeMs > 0) sweeps / (analyzeMs / 1e3) else 0.0),
      ("setup.session_ms", "ms", sessionMs),
      ("setup.register_ms", "ms", setupMs("setup.register")),
      ("setup.initialize_ms", "ms", setupMs("setup.initialize")),
      ("setup.analyze_ms", "ms", setupMs("setup.analyze")),
      ("operators.dedup_exact.ms", "ms/op", spanMs("operators.dedup_exact") / n),
      ("operators.minhash.ms", "ms/op", spanMs("operators.minhash") / n),
      ("operators.jaccard.ms", "ms/op", spanMs("operators.jaccard") / n),
      ("operators.components.ms", "ms/op", spanMs("operators.components") / n),
      ("operators.candidates", "count/op", cands / n),
      ("operators.verified", "count/op", verified / n),
      ("operators.useful_ratio", "fraction", if (cands > 0) verified / cands else 0.0),
      ("jvm.gc_ms", "ms/op", gcMs / n),
      ("jvm.heap_peak_mb", "MB", heapPeakMb),
      ("trace.overhead_ratio", "ratio", p50(ops) / p50(plain)))
  }
}
