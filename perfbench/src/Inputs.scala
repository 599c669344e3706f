package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Everything the program sees is a pure
  * function of the workload seed: the same seed gives the same tables,
  * the same corpus and the same query stream. */
object Inputs {

  /** Uniform [0, 1) draw number `k` for the row's `id`, from a 64-bit
    * hash of (id, seed, k) — independent of partitioning. */
  private def u(seed: Long, k: Int): Column =
    (xxhash64(col("id"), lit(seed), lit(k)).bitwiseAND(lit(0xFFFFFFL)).cast("double") /
      lit(16777216.0))

  /** A TPC-H-shaped `lineitem` of `n` rows. `l_extendedprice` is
    * `l_quantity` times the part's retail price (the known dependent
    * pair); `l_returnflag` follows `l_shipdate` as in TPC-H, and
    * `l_shipmode` is an independent nominal column. */
  def lineitem(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    val partkey = (floor(u(seed, 1) * 20000) + 1).cast("long")
    val retail = (lit(90000) + (partkey / 10).cast("long") % 20001 + (partkey % 1000) * 100) / 100.0
    val quantity = floor(u(seed, 2) * 50) + 1
    val shipday = floor(u(seed, 3) * 2500).cast("int")
    spark.range(0, n, 1, partitions)
      .select(
        (col("id") / 4 + 1).cast("long").as("l_orderkey"),
        partkey.as("l_partkey"),
        (floor(u(seed, 4) * 1000) + 1).cast("long").as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        quantity.cast("double").as("l_quantity"),
        round(quantity * retail, 2).as("l_extendedprice"),
        (floor(u(seed, 5) * 11) / 100.0).as("l_discount"),
        (floor(u(seed, 6) * 9) / 100.0).as("l_tax"),
        when(shipday > 1800, lit("N"))
          .otherwise(when(u(seed, 7) < 0.5, lit("R")).otherwise(lit("A"))).as("l_returnflag"),
        when(shipday > 1700, lit("O")).otherwise(lit("F")).as("l_linestatus"),
        element_at(array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
          .map(lit): _*), (floor(u(seed, 8) * 7) + 1).cast("int")).as("l_shipmode"),
        date_add(lit("1992-01-02").cast("date"), shipday).as("l_shipdate"))
  }

  /** The modelled variables of `lineitem` and their statistical types. */
  val numerical: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val nominal: Seq[String] = Seq("l_returnflag", "l_shipmode")
  val ignored: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_linestatus", "l_shipdate")

  def populationDdl(pop: String, table: String): String =
    s"CREATE POPULATION $pop FOR $table (" +
      numerical.map(c => s"$c NUMERICAL").mkString("", "; ", "; ") +
      nominal.map(c => s"$c NOMINAL").mkString("", "; ", "; ") +
      s"IGNORE ${ignored.mkString(", ")})"

  /** A synthetic corpus: `shards` shards of `docsPerShard` documents of
    * ~55 words from a seeded vocabulary. In each shard a share of the
    * documents are planted exact copies of another document of the shard
    * and a share are near copies (two words substituted, word-3-shingle
    * Jaccard ≈ 0.8). Ids are unique across shards. */
  final case class Doc(doc_id: Long, shard: Int, text: String)
  /** `copies(o)`: ids of the exact copies of original `o`; `near`:
    * (original, near copy) id pairs. */
  final case class Shard(docs: Seq[Doc], copies: Map[Long, Seq[Long]],
      near: Seq[(Long, Long)])

  def corpus(seed: Long, shards: Int, docsPerShard: Int,
      exactShare: Double, nearShare: Double): IndexedSeq[Shard] = {
    val rng = new scala.util.Random(seed)
    val vocab = Vector.fill(6000)(
      Iterator.continually(('a' + rng.nextInt(26)).toChar).take(3 + rng.nextInt(7)).mkString)
    def words(): Vector[String] = Vector.fill(50 + rng.nextInt(11))(vocab(rng.nextInt(vocab.size)))
    (0 until shards).map { s =>
      val base = s.toLong * docsPerShard
      val nExact = (docsPerShard * exactShare).round.toInt
      val nNear = (docsPerShard * nearShare).round.toInt
      val nOrig = docsPerShard - nExact - nNear
      val origs = Vector.fill(nOrig)(words())
      val exact = Vector.fill(nExact)(rng.nextInt(nOrig))
      val near = Vector.fill(nNear)(rng.nextInt(nOrig))
      val texts = origs.map(_.mkString(" ")) ++ exact.map(i => origs(i).mkString(" ")) ++
        near.map { i =>
          val w = origs(i)
          val a = rng.nextInt(w.size)
          val b = (a + 1 + rng.nextInt(w.size - 1)) % w.size
          w.updated(a, vocab(rng.nextInt(vocab.size)))
            .updated(b, vocab(rng.nextInt(vocab.size))).mkString(" ")
        }
      // shuffle positions so planted copies are not a suffix of the shard
      val perm = rng.shuffle((0 until docsPerShard).toVector)
      val idOf = (i: Int) => base + perm(i) + 1
      Shard(
        docs = texts.indices.map(i => Doc(idOf(i), s, texts(i))).sortBy(_.doc_id),
        copies = exact.indices.groupBy(exact).map { case (o, js) =>
          idOf(o) -> js.map(j => idOf(nOrig + j)) },
        near = near.indices.map(j => (idOf(near(j)), idOf(nOrig + nExact + j))))
    }
  }
}
