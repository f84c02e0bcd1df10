package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.nio.file.Files
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded in-process inputs. Everything the benchmark feeds graft is made
  * here from a seed, so the same seed gives byte-identical inputs and the
  * benchmark needs no files beyond its own checkout.
  *
  * `fixture` writes the ten tables `graft.sources.Tables` reads, with the
  * column names, types and value domains of the TPC-H-like test corpus
  * (five regions, 25 nations, Brand#1..25, the 31-word document
  * vocabulary, 64-d unit embeddings, ...), scaled by `sf` like that corpus
  * (sf 0.001 → 6,000 lineitem rows). About 5% of documents are planted
  * near-duplicates (three word substitutions) and about 1% of embeddings
  * planted near-identical copies, so the dedup families have true
  * positives. */
object Gen {

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val Dim = 64

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))
  def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(pick(r, Vocab))

  /** `src` with `k` word positions replaced by random vocabulary words. */
  def mutate(r: SplittableRandom, src: String, k: Int): String = {
    val w = src.split(" ")
    (0 until k).foreach(_ => w(r.nextInt(w.length)) = pick(r, Vocab))
    w.mkString(" ")
  }

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  def gaussianUnit(r: SplittableRandom): Array[Float] =
    unit(Array.fill(Dim)(gauss(r)))
  /** `v` plus N(0, sigma) noise per dimension, renormalised. */
  def perturb(r: SplittableRandom, v: Array[Float], sigma: Double): Array[Float] =
    unit(v.map(x => x + sigma * gauss(r)))
  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  /** The ten tables at scale `sf`: schema and a row generator each. A
    * planted near-duplicate document copies an earlier one of at least
    * `plantMinWords` words with `plantSubs` word substitutions. */
  def tables(sf: Double, seed: Long, plantSubs: Int = 3,
             plantMinWords: Int = 0): Seq[(String, StructType, () => Seq[Row])] = {
    def n(base: Double) = math.max(1, math.round(base * sf)).toInt
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = math.max(1, nCust / 10)
    val nDocs = math.max(500, n(50000)); val nVecs = math.max(500, n(20000))
    def rng(table: String) = new SplittableRandom(seed * 1000003L + table.hashCode)

    Seq[(String, StructType, () => Seq[Row])](
      ("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
        () => Regions.indices.map(i => Row(i, Regions(i)))),
      ("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
        () => (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
        () => { val r = rng("customer"); (0 until nCust).map(i =>
          Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
            money(r, -999.99, 9999.99), pick(r, Segments))) }),
      ("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
        () => { val r = rng("supplier"); (0 until nSupp).map(i =>
          Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))) }),
      ("part", StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
        () => { val r = rng("part"); (0 until nPart).map(i =>
          Row(i.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
            s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
            900.0 + (i % 1000) / 10.0)) }),
      ("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
        StructField("o_orderpriority", StringType))),
        () => { val r = rng("orders"); (0 until nOrd).map(i =>
          Row(i.toLong, r.nextInt(nCust).toLong, pick(r, Array("F", "O", "P")),
            money(r, 1000, 500000), day(r, LocalDate.of(1995, 1, 1), 2400),
            pick(r, Priorities))) }),
      ("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
        () => { val r = rng("lineitem"); (0 until nLine).map { _ =>
          val q = (1 + r.nextInt(50)).toDouble
          Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
            1 + r.nextInt(7), q, math.round(q * (900 + r.nextDouble() * 1200) * 100) / 100.0,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Array("A", "N", "R")),
            pick(r, Array("F", "O")), day(r, LocalDate.of(1995, 1, 2), 2498))
        } }),
      ("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))),
        () => { val r = rng("events")
          val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
          val span = 30L * 86400 * 1000000 / nEv
          var t = 0L
          (0 until nEv).map { i =>
            t += 1 + r.nextLong(2 * span)
            Row(i.toLong, t0.plusNanos(t * 1000), r.nextInt(nUsers).toLong,
              pick(r, EventTypes), math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
              s"""{"k": ${r.nextInt(100)}}""")
          } }),
      ("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))),
        () => { val r = rng("documents"); val texts = new Array[String](nDocs)
          (0 until nDocs).map { i =>
            val src = if (i >= 50 && r.nextInt(20) == 0) Some(texts(r.nextInt(i))) else None
            texts(i) = src.filter(_.count(_ == ' ') + 1 >= plantMinWords)
              .map(mutate(r, _, plantSubs))
              .getOrElse(words(r, 10 + r.nextInt(90)).mkString(" "))
            Row(i.toLong, texts(i), pick(r, Langs), s"src${r.nextInt(20)}",
              texts(i).length.toLong)
          } }),
      ("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
        () => { val r = rng("embeddings"); val vs = new Array[Array[Float]](nVecs)
          (0 until nVecs).map { i =>
            vs(i) =
              if (i >= 50 && r.nextInt(100) == 0) perturb(r, vs(r.nextInt(i)), 0.02)
              else gaussianUnit(r)
            Row(i.toLong, vs(i).toSeq, r.nextInt(10))
          } }))

  }

  /** Rows of one table, generated in memory. */
  def rows(table: String, sf: Double, seed: Long, plantSubs: Int = 3,
           plantMinWords: Int = 0): Seq[Row] =
    tables(sf, seed, plantSubs, plantMinWords).find(_._1 == table).get._3()

  /** Write the ten tables under `dir` as one plain parquet file each (the
    * layout of the test corpus), four at a time; returns rows per table. */
  def fixture(spark: SparkSession, dir: String, sf: Double, seed: Long): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(tables(sf, seed)) { case (name, schema, rows) => Future {
      val rs = rows()
      val tmp = java.nio.file.Paths.get(dir, s".tmp-$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, java.nio.file.Paths.get(dir, s"$name.parquet"))
      Fs.delete(tmp)
      name -> rs.size.toLong
    } }, Duration.Inf).toMap
    finally pool.shutdown()
  }
}
