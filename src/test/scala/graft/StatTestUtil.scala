package graft

/** Calibrated-threshold machinery for flaky statistical tests plus the
  * KL estimator, ported from the reference's published test framework
  * (reference: tests/threshold.py:36-170 — empirical quantile threshold
  * via a Beta posterior on the sub-threshold mass; tests/kl.py:24-36 —
  * Monte-Carlo KL with a CLT standard error).
  *
  * Protocol: `computeSufficientlyStringentThreshold` is run ONCE
  * (offline, see ThresholdCalibrate) to derive a threshold for a test
  * statistic; the unit test then calls `checkGenerator` against the
  * HARDCODED threshold — a later regression shifts the statistic's
  * distribution and trips the frozen threshold, which an in-test
  * recalibration would silently absorb. */
object StatTestUtil {
  import graft.functions.SpecialMath.lgamma

  def lbeta(m: Double, n: Double): Double = lgamma(m) + lgamma(n) - lgamma(m + n)

  final case class FailProbThreshold(fprob: Double, fthreshold: Double)

  /** Estimate, from iid draws `observed` of a test statistic, a bound
    * `fthreshold` such that the probability of `ns` fresh draws ALL
    * landing below it is below `threshold` (reference
    * tests/threshold.py:63-118): treating below/above counts at the
    * candidate quantile as binomial evidence, the Beta(below+1, above+1)
    * posterior on the sub-threshold mass integrates in closed form to
    * the Beta-function ratio below. */
  def failprobThreshold(observed: Seq[Double], ns: Int, threshold: Double): FailProbThreshold = {
    require(threshold > 0 && threshold < 1, "threshold is not a probability")
    require(ns >= 1, "ns is not a natural number")
    val obs = observed.sorted
    val sub = math.pow(threshold, 1.0 / ns)
    val idx = (obs.length * sub).toInt
    val mlx = obs(idx)
    require(obs.count(_ == mlx) == 1,
      "requested quantile may lie in a point mass (repeated statistic value)")
    val below = math.max(0, idx - 1)
    val above = obs.length - idx - 1
    val lpfail = lbeta(below + ns + 1, above + 1) - lbeta(below + 1, above + 1)
    FailProbThreshold(math.exp(lpfail), mlx)
  }

  final case class TestThreshold(threshold: Double, failprob: Double, sampleSize: Int)

  /** Draw from `gen` until the estimated probability that `ns` draws in
    * a row all land below the computed threshold is < `maxprob`
    * (reference tests/threshold.py:141-170). */
  def computeSufficientlyStringentThreshold(
      gen: () => Double, ns: Int, maxprob: Double): TestThreshold = {
    val batch = math.pow(maxprob, -1.0 / ns).toInt + 1
    val observed = scala.collection.mutable.ArrayBuffer.empty[Double]
    var out: Option[TestThreshold] = None
    while (out.isEmpty) {
      observed ++= Seq.fill(batch)(gen())
      val r = failprobThreshold(observed.toSeq, ns, 0.9 * maxprob)
      if (r.fprob < maxprob) out = Some(TestThreshold(r.fthreshold, r.fprob, observed.size))
    }
    out.get
  }

  /** Run `gen` until one draw clears `threshold`; fail after `ns`
    * consecutive sub-threshold draws (reference tests/threshold.py
    * check_generator — the calibration guarantees this has false-failure
    * probability below the calibrated maxprob). Returns the number of
    * retries consumed. */
  def checkGenerator(gen: () => Double, ns: Int, threshold: Double): Int = {
    var i = 0
    while (i < ns) {
      if (gen() > threshold) return i
      i += 1
    }
    throw new AssertionError(
      s"$ns consecutive test statistics at or below $threshold — " +
        "the statistic's distribution has changed")
  }

  final case class KLEstimate(estimate: Double, se: Double)

  /** Monte-Carlo estimate of KL(P‖Q) from a P-sample: mean and CLT
    * standard error of log p(x) − log q(x) (reference tests/kl.py). */
  def kullbackLeibler(sample: Seq[Double], lpdfP: Double => Double,
      lpdfQ: Double => Double): KLEstimate =
    kullbackLeiblerVec(sample.map(Seq(_)),
      xs => lpdfP(xs.head), xs => lpdfQ(xs.head))

  /** Vector-sample variant (joint densities over several columns). */
  def kullbackLeiblerVec(sample: Seq[Seq[Double]], lpdfP: Seq[Double] => Double,
      lpdfQ: Seq[Double] => Double): KLEstimate = {
    val ks = sample.map(x => lpdfP(x) - lpdfQ(x))
    val mean = ks.sum / ks.size
    val varr = ks.map(k => (k - mean) * (k - mean)).sum / ks.size
    KLEstimate(mean, math.sqrt(varr / ks.size))
  }

  /** Two-sample chi-square test over pre-binned counts: merges bins so
    * every pooled bin holds ≥ `minPooled` observations, then the usual
    * homogeneity statistic with (bins−1) degrees of freedom. Returns the
    * p-value (1.0 when fewer than 2 pooled bins survive). */
  def chiSquareTwoSample(countsA: Map[Int, Int], countsB: Map[Int, Int],
      minPooled: Int = 10): Double = {
    val keys = (countsA.keySet ++ countsB.keySet).toSeq.sorted
    // greedy adjacent pooling until every merged bin has enough mass
    val pooled = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var accA = 0; var accB = 0
    for (k <- keys) {
      accA += countsA.getOrElse(k, 0); accB += countsB.getOrElse(k, 0)
      if (accA + accB >= minPooled) { pooled += ((accA, accB)); accA = 0; accB = 0 }
    }
    if (accA + accB > 0 && pooled.nonEmpty) {
      val (a, b) = pooled.remove(pooled.length - 1)
      pooled += ((a + accA, b + accB))
    }
    if (pooled.length < 2) return 1.0
    val nA = pooled.map(_._1).sum.toDouble
    val nB = pooled.map(_._2).sum.toDouble
    var chi2 = 0.0
    for ((a, b) <- pooled) {
      val tot = (a + b).toDouble
      val eA = tot * nA / (nA + nB)
      val eB = tot * nB / (nA + nB)
      chi2 += (a - eA) * (a - eA) / eA + (b - eB) * (b - eB) / eB
    }
    graft.functions.SpecialMath.chi2Sf(chi2, (pooled.length - 1).toDouble)
  }

  /** `body`'s result and the number of Spark jobs it launched, counted by
    * a listener. Only jobs submitted from this thread under a fresh tag
    * count, so actions of other threads never leak in; the bus is
    * drained before the count is read, so none of `body`'s are missed. */
  def jobsLaunched[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobCount"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
