package perfbench

import graft.backends.CrossCat
import graft.bql.{Ast, BayesDB, Parser}
import graft.operators.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** What every workload sees: the session, the span recorder and the seed. */
final class Env(val spark: SparkSession, val tr: Tracer, val seed: Long, val cores: Int)

/** One timed operation. `run` makes the calls into the program, up to and
  * including the action that collects the result, and returns the check
  * of that result, which runs after the clock stops (None = correct).
  * `rows` is the number of input rows the operation scores or dedups. */
final case class Op(kind: String, rows: Long, run: () => Result)

/** What an op hands back: its output check, and any sub-timings or
  * counts the report breaks out. */
final case class Result(check: () => Option[String], parts: Map[String, Double] = Map.empty)

/** One set-up of a workload: the fitted engine or corpus, and the seeded
  * stream of operations over it, issued in shuffled blocks so that every
  * run executes the op mix in the same proportions. */
trait Instance {
  def block(rng: Random): Seq[Op]
  /** Workload-specific figures for the report, from the timed outcomes. */
  def extras(outcomes: Seq[Outcome]): Map[String, Double] = Map.empty
  def release(): Unit
}

trait Workload {
  def name: String
  /** Blocks of the op mix run untimed before the window. A count, not a
    * time: the JIT's state at the window then depends on the work done,
    * not on how fast the machine happened to run it. Planner-heavy mixes
    * need more. */
  def warmupBlocks: Int
  def setup(env: Env): Instance
}

final case class Outcome(op: Op, id: Long, latencyMs: Double, error: Option[String],
    parts: Map[String, Double])

object Workloads {
  val all: Seq[Workload] = Seq(BqlInteractive, AnalyzeRefit, CorpusDedup)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  // ----------------------------------------------------------- helpers

  /** A BQL phrase as the shell runs it: parse, plan or run, collect. */
  def bql(env: Env, bdb: BayesDB, kind: String, text: String, rows: Long)(
      check: Array[Row] => Option[String]): Op =
    Op(kind, rows, () => {
      val out = runBql(env, bdb, text)
      Result(() => check(out))
    })

  def runBql(env: Env, bdb: BayesDB, text: String): Array[Row] = {
    val parsed = env.tr("bql.parse")(Parser.parseOne(text))
    parsed.phrase match {
      case _: Ast.Query =>
        val df = env.tr("bql.plan")(bdb.executeParsed(parsed, Nil))
        env.tr("spark.collect")(df.collect())
      case _ =>
        env.tr("bql.command")(bdb.executeParsed(parsed, Nil))
        Array.empty
    }
  }

  def fail(msg: String): Option[String] = Some(msg)

  /** Every value of column `i` is a finite number within [lo, hi]. */
  def inRange(rows: Array[Row], i: Int, lo: Double, hi: Double, what: String): Option[String] =
    rows.iterator.map(r => if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue)
      .find(v => !(v >= lo && v <= hi))
      .map(v => s"$what out of [$lo, $hi]: $v")

  def expectRows(rows: Array[Row], n: Long, what: String): Option[String] =
    if (rows.length == n) None else fail(s"$what: expected $n rows, got ${rows.length}")

  def firstFailure(checks: Option[String]*): Option[String] = checks.collectFirst { case Some(m) => m }

  /** Row-set equality up to order, doubles to a relative 1e-9. */
  def sameRows(a: Array[Row], b: Array[Row]): Option[String] = {
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case n: java.lang.Number => BigDecimal(n.toString).round(new java.math.MathContext(9)).toDouble
      case x => x
    }
    val sa = a.map(norm).map(_.toString).sorted
    val sb = b.map(norm).map(_.toString).sorted
    if (sa.sameElements(sb)) None
    else fail(s"result differs from spark.sql: ${sa.take(3).mkString(";")} vs ${sb.take(3).mkString(";")}")
  }

  // --------------------------------------------- shared lineitem engine

  val Pop = "lpop"
  val Gen = "lgen"
  val DepPair = ("l_quantity", "l_extendedprice")
  val AllVars: Seq[String] = Inputs.numerical ++ Inputs.nominal

  /** Register a seeded `lineitem` and fit a CrossCat ensemble over it. The
    * raw (rowid-less) generated frame stays visible to plain `spark.sql`
    * as `raw_lineitem`, for output checks. */
  def lineitemEngine(env: Env, rows: Long, models: Int, subsample: Int,
      iterations: Int): BayesDB = {
    val raw = Inputs.lineitem(env.spark, rows, env.seed, env.cores)
    val bdb = new BayesDB(env.spark, seed = env.seed)
    env.tr("setup.register")(bdb.registerTable("lineitem", raw))
    raw.createOrReplaceTempView("raw_lineitem")
    bdb.execute(Inputs.populationDdl(Pop, "lineitem"))
    bdb.execute(s"CREATE GENERATOR $Gen FOR $Pop USING cgpm (SUBSAMPLE $subsample)")
    env.tr("setup.initialize")(bdb.execute(s"INITIALIZE $models MODELS FOR $Gen"))
    env.tr("setup.analyze")(bdb.execute(s"ANALYZE $Gen FOR $iterations ITERATIONS"))
    bdb
  }

  def releaseEngine(bdb: BayesDB): Unit =
    bdb.tableNames.foreach(t => bdb.table(t).unpersist(blocking = true))

  /** A seeded rowid range of 10..50 rows inside 1..n. */
  def rowRange(rng: Random, n: Long): (Long, Long) = {
    val len = 10 + rng.nextInt(41)
    val lo = 1 + (rng.nextDouble() * (n - len)).toLong
    (lo, lo + len - 1)
  }

  def pick[A](rng: Random, xs: Seq[A]): A = xs(rng.nextInt(xs.size))

  /** A PAIRWISE VARIABLES result is (population, name0, name1, value). */
  val PairValue = 3

  /** Dependence probability of the planted dependent pair. */
  def depPairValue(rows: Array[Row]): Option[Double] = rows.collectFirst {
    case r if r.getAs[String]("name0") == DepPair._1 && r.getAs[String]("name1") == DepPair._2 =>
      r.getAs[Number](PairValue).doubleValue
  }

  def checkDependence(rows: Array[Row], minPair: Double): Option[String] = firstFailure(
    expectRows(rows, AllVars.size.toLong * AllVars.size, "pairwise dependence"),
    inRange(rows, PairValue, 0.0, 1.0, "dependence probability"),
    depPairValue(rows) match {
      case Some(v) if v >= minPair => None
      case v => fail(s"dependence of ${DepPair._1}, ${DepPair._2} is $v, want >= $minPair")
    })

  /** Rowids the ensemble incorporated (its MCMC subsample): the rows
    * SIMILARITY is defined on — it is NaN for every other row. */
  def incorporated(bdb: BayesDB): IndexedSeq[Long] =
    bdb.populationModel(Pop, Some(Gen)).generators.flatMap(_.state match {
      case s: CrossCat.CrossCatState => s.rowids.toSeq
      case _ => Nil
    }).distinct.sorted.toIndexedSeq

  /** Predictive probability is a density for numerical variables (finite,
    * non-negative) and a probability for nominal ones. */
  def ppCheck(rows: Array[Row], i: Int, variable: String): Option[String] =
    if (Inputs.nominal.contains(variable)) inRange(rows, i, 0.0, 1.0, s"pp of $variable")
    else inRange(rows, i, 0.0, Double.MaxValue, s"pp density of $variable")
}

import Workloads._

/** The analyst at the shell: short BQL phrases over a fitted ensemble. */
object BqlInteractive extends Workload {
  val name = "bql_interactive"
  val warmupBlocks = 8
  val Rows = 20000L
  val Models = 8

  def setup(env: Env): Instance = {
    val bdb = lineitemEngine(env, Rows, Models, subsample = 500, iterations = 20)
    val modelled = incorporated(bdb)
    new Instance {
      def sqlAgg(grouped: Boolean)(rng: Random): Op = {
        val text = if (grouped) {
          val c = 5 + rng.nextInt(45)
          "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
            "avg(l_extendedprice) AS p FROM lineitem " +
            s"WHERE l_quantity < $c GROUP BY l_returnflag, l_linestatus " +
            "ORDER BY l_returnflag, l_linestatus"
        } else {
          val c = 1000 + rng.nextInt(60000)
          "SELECT l_shipmode, count(*) AS n, avg(l_discount) AS d, max(l_tax) AS t " +
            s"FROM lineitem WHERE l_extendedprice > $c GROUP BY l_shipmode ORDER BY l_shipmode"
        }
        bql(env, bdb, "sql_aggregate", text, Rows)(out =>
          sameRows(out, env.spark.sql(text.replace("FROM lineitem", "FROM raw_lineitem")).collect()))
      }
      def pp(vars: Seq[String])(rng: Random): Op = {
        val (lo, hi) = rowRange(rng, Rows)
        val v = pick(rng, vars)
        bql(env, bdb, "predictive_probability",
          s"ESTIMATE rowid, PREDICTIVE PROBABILITY OF $v AS pp FROM $Pop " +
            s"WHERE rowid >= $lo AND rowid <= $hi", hi - lo + 1)(out =>
          firstFailure(expectRows(out, hi - lo + 1, "pp"), ppCheck(out, 1, v)))
      }
      def similarity(rng: Random): Op = {
        val rows = rng.shuffle(modelled).take(10 + rng.nextInt(41)).sorted
        bql(env, bdb, "similarity",
          s"ESTIMATE rowid, SIMILARITY TO (rowid = ${pick(rng, modelled)}) IN THE CONTEXT OF " +
            s"${pick(rng, AllVars)} AS s FROM $Pop WHERE rowid IN (${rows.mkString(", ")})",
          rows.size)(out =>
          firstFailure(expectRows(out, rows.size, "similarity"),
            inRange(out, 1, 0.0, 1.0, "similarity")))
      }
      def infer(rng: Random): Op = {
        val (lo, hi) = rowRange(rng, Rows)
        val v = pick(rng, AllVars)
        bql(env, bdb, "infer",
          s"INFER EXPLICIT rowid, PREDICT $v AS v CONFIDENCE c FROM $Pop " +
            s"WHERE rowid >= $lo AND rowid <= $hi", hi - lo + 1)(out =>
          firstFailure(expectRows(out, hi - lo + 1, "infer"),
            out.find(_.isNullAt(1)).map(_ => "infer returned a NULL prediction"),
            inRange(out, 2, 0.0, 1.0, "confidence")))
      }
      // targets disjoint from the GIVEN variables, as cgpm requires
      def simulate(rng: Random): Op = {
        val q = 1 + rng.nextInt(50)
        val modes = Set("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
        bql(env, bdb, "simulate",
          s"SIMULATE l_extendedprice, l_discount, l_shipmode FROM $Pop " +
            s"GIVEN l_quantity = $q LIMIT 100", 100)(out =>
          firstFailure(expectRows(out, 100, "simulate"),
            inRange(out, 0, -1e12, 1e12, "simulated l_extendedprice"),
            inRange(out, 1, -1e12, 1e12, "simulated l_discount"),
            out.find(r => !modes(r.getString(2))).map(r => s"simulated l_shipmode ${r.get(2)}")))
      }
      def dependence(rng: Random): Op =
        bql(env, bdb, "dependence",
          s"ESTIMATE DEPENDENCE PROBABILITY FROM PAIRWISE VARIABLES OF $Pop",
          AllVars.size.toLong * AllVars.size)(out => checkDependence(out, 0.5))
      def mutualInformation(rng: Random): Op = {
        val vars = rng.shuffle(AllVars).take(3)
        bql(env, bdb, "mutual_information",
          s"ESTIMATE MUTUAL INFORMATION USING 20 SAMPLES FROM PAIRWISE VARIABLES OF $Pop " +
            s"FOR ${vars.mkString(", ")}", 9)(out =>
          firstFailure(expectRows(out, 9, "mutual information"),
            inRange(out, PairValue, -1e-6, 1e6, "mutual information")))
      }
      // each block runs every kind in fixed proportions, and both forms of
      // the two-form kinds, so runs differ only in constants and order
      private val mix: Seq[Random => Op] = Seq(sqlAgg(grouped = true), sqlAgg(grouped = false),
        pp(Inputs.numerical), pp(Inputs.nominal), similarity, infer, simulate, dependence,
        mutualInformation)
      def block(rng: Random): Seq[Op] = rng.shuffle(mix).map(_(rng))
      def release(): Unit = releaseEngine(bdb)
    }
  }
}

/** Writes beside reads: ANALYZE the ensemble, then read the refit
  * ensemble once. Every cycle runs the same number of iterations, so the
  * latency quantiles are those of one distribution. */
object AnalyzeRefit extends Workload {
  val name = "analyze_refit"
  val warmupBlocks = 8
  val Rows = 20000L
  val Models = 8
  val Subsample = 2000
  val Iterations = 2

  def setup(env: Env): Instance = {
    val bdb = lineitemEngine(env, Rows, Models, Subsample, iterations = 10)
    new Instance {
      def block(rng: Random): Seq[Op] = {
        val (lo, hi) = rowRange(rng, Rows)
        val v = pick(rng, AllVars)
        Seq(Op("analyze_refit", Iterations.toLong * Models * Subsample + (hi - lo + 1), () => {
          val t0 = System.nanoTime()
          runBql(env, bdb, s"ANALYZE $Gen FOR $Iterations ITERATIONS")
          val t1 = System.nanoTime()
          val dep = runBql(env, bdb,
            s"ESTIMATE DEPENDENCE PROBABILITY FROM PAIRWISE VARIABLES OF $Pop")
          val pp = runBql(env, bdb, s"ESTIMATE rowid, PREDICTIVE PROBABILITY OF $v AS pp " +
            s"FROM $Pop WHERE rowid >= $lo AND rowid <= $hi")
          Result(
            () => firstFailure(checkDependence(dep, 0.5),
              expectRows(pp, hi - lo + 1, "pp after refit"), ppCheck(pp, 1, v)),
            Map("analyze_ms" -> (t1 - t0) / 1e6, "read_ms" -> (System.nanoTime() - t1) / 1e6,
              "sweeps" -> Iterations.toDouble * Models))
        }))
      }
      override def extras(outcomes: Seq[Outcome]): Map[String, Double] = {
        val ok = outcomes.filter(_.error.isEmpty)
        val analyzeS = ok.map(_.parts("analyze_ms")).sum / 1e3
        Map(
          "analyze_sweeps_per_s" -> ok.map(_.parts("sweeps")).sum / analyzeS,
          "refit_read_p50_ms" -> Stats.quantile(ok.map(_.parts("read_ms")), 0.5))
      }
      def release(): Unit = releaseEngine(bdb)
    }
  }
}

/** LLM-corpus curation: exact dedup, MinHash-LSH candidates, n-gram
  * Jaccard verification and connected components, one shard per op. */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val warmupBlocks = 8
  val Shards = 8
  val DocsPerShard = 1000
  val ExactShare = 0.05
  val NearShare = 0.05
  /** Share of planted near copies that must land in their original's
    * component. */
  val MinNearRecall = 0.95

  def setup(env: Env): Instance = {
    val spark = env.spark
    import spark.implicits._
    val shards = env.tr("setup.generate")(
      Inputs.corpus(env.seed, Shards, DocsPerShard, ExactShare, NearShare))
    val bdb = new BayesDB(spark, seed = env.seed)
    env.tr("setup.register")(bdb.registerTable("corpus",
      shards.flatMap(_.docs).toDF().repartition(env.cores)))
    new Instance {
      def dedup(s: Int): Op = Op("dedup_shard", DocsPerShard, () => {
        val docs = bdb.table("corpus").filter(col("shard") === s)
        val kept = Dedup.dedupExact(docs, "text", "doc_id").cache()
        try {
          val keptIds = env.tr("operators.dedup_exact")(env.tr("spark.collect")(
            kept.select("doc_id").as[Long].collect())).toSet
          val cands = env.tr("operators.minhash")(env.tr("spark.collect")(
            Dedup.minHashCandidates(kept, "text", "doc_id")
              .select("id0", "id1").as[(Long, Long)].collect()))
          val verified = env.tr("operators.jaccard")(env.tr("spark.collect")(
            Dedup.ngramJaccard(kept, cands.toSeq.toDF("id0", "id1"), "text", "doc_id")
              .select("id0", "id1").as[(Long, Long)].collect()))
          val comps = env.tr("operators.components")(env.tr("spark.collect")(
            Dedup.connectedComponents(verified.toSeq.toDF("id0", "id1"), "id0", "id1")
              .select(col("id").cast("long"), col("component").cast("long"))
              .as[(Long, Long)].collect())).toMap
          Result(() => check(shards(s), keptIds, verified, comps),
            Map("candidates" -> cands.length.toDouble, "verified" -> verified.length.toDouble))
        } finally kept.unpersist(blocking = false)
      })

      def check(sh: Inputs.Shard, kept: Set[Long], verified: Array[(Long, Long)],
          comps: Map[Long, Long]): Option[String] = {
        val groupOf: Map[Long, Long] =
          sh.copies.flatMap { case (o, cs) => cs.map(_ -> o) } ++ sh.near.map(p => p._2 -> p._1)
        def cluster(id: Long): Long = groupOf.getOrElse(id, id)
        val keeper: Map[Long, Long] = sh.copies.map { case (o, cs) =>
          o -> (o +: cs).filter(kept).headOption.getOrElse(-1L) }
        val badExact = sh.copies.collectFirst {
          case (o, cs) if (o +: cs).count(kept) != 1 =>
            s"exact group of $o kept ${(o +: cs).count(kept)} of ${cs.size + 1} copies"
        }
        val recovered = sh.near.count { case (o, v) =>
          val rep = keeper.getOrElse(o, o)
          comps.contains(v) && comps.get(rep) == comps.get(v)
        }
        val recall = recovered.toDouble / math.max(1, sh.near.size)
        firstFailure(
          badExact,
          if (kept.size == sh.docs.size - sh.copies.values.map(_.size).sum) None
          else fail(s"exact dedup kept ${kept.size} of ${sh.docs.size}"),
          if (recall >= MinNearRecall) None
          else fail(f"near-duplicate recall $recall%.3f < $MinNearRecall"),
          verified.collectFirst { case (a, b) if cluster(a) != cluster(b) =>
            s"verified pair ($a, $b) is not a planted duplicate" })
      }

      def block(rng: Random): Seq[Op] = Seq(dedup(rng.nextInt(Shards)))
      def release(): Unit = { Dedup.releaseCaches(); releaseEngine(bdb) }
    }
  }
}
