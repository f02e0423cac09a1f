package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Tables follow the TPC-H-like schemas the
  * library's tests use (lineitem, orders, documents, embeddings); the
  * same seed always yields the same rows, so two builds of graft see
  * byte-identical inputs. Spark-side tables use `rand(seed)` over a
  * fixed partition count, which is deterministic per partition. */
object Gen {
  val Partitions = 4
  /** Ship dates span 1992-01-01 .. 1998-12-31 (2557 days). */
  val FirstDay: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  val Days = 2557

  def lineitem(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    def r(i: Int) = rand(seed * 31 + i)
    def pick(xs: String*)(i: Int) =
      element_at(array(xs.map(lit): _*), (floor(r(i) * xs.size) + 1).cast("int"))
    spark.range(0, n, 1, Partitions).select(
      col("id").as("uid"),
      (col("id") / 4).cast("long").as("l_orderkey"),
      (floor(r(1) * 2000) + 1).cast("long").as("l_partkey"),
      (floor(r(2) * 100) + 1).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(r(3) * 50) + 1).cast("double").as("l_quantity"),
      round(r(4) * 100000 + 900, 2).as("l_extendedprice"),
      (floor(r(5) * 11) / 100).as("l_discount"),
      (floor(r(6) * 9) / 100).as("l_tax"),
      pick("A", "N", "R")(7).as("l_returnflag"),
      pick("F", "O")(8).as("l_linestatus"),
      date_add(lit("1992-01-01").cast("date"), floor(r(9) * Days).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    def r(i: Int) = rand(seed * 37 + i)
    spark.range(0, n, 1, Partitions).select(
      col("id").as("o_orderkey"),
      (floor(r(1) * (n / 10 + 1)) + 1).cast("long").as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (floor(r(2) * 3) + 1).cast("int")).as("o_orderstatus"),
      round(r(3) * 400000 + 800, 2).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), floor(r(4) * Days).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      element_at(array(Priorities.map(lit): _*),
        (floor(r(5) * Priorities.size) + 1).cast("int")).as("o_orderpriority"))
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Word list of the document corpus: the text index sees a Zipfian
    * term distribution, so query terms differ a lot in posting length. */
  val Vocabulary: IndexedSeq[String] = {
    val base = Seq("data", "view", "index", "query", "key", "value", "map",
      "reduce", "spark", "stream", "batch", "merge", "sort", "scan", "join",
      "hash", "range", "bucket", "page", "token", "doc", "field", "text",
      "vector", "graph", "table", "row", "column", "filter", "group")
    (for (a <- base; b <- Seq("", "s", "ed", "er", "ing")) yield a + b).toIndexedSeq
  }
  val Langs = Seq("en", "de", "fr", "es", "zh")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documents(n: Int, seed: Long): Seq[Row] = {
    val rng = new SplittableRandom(seed * 41 + 1)
    val z = new Zipf(Vocabulary.size, 1.0)
    (0 until n).map { i =>
      val len = 8 + rng.nextInt(60)
      val text = Seq.fill(len)(Vocabulary(z.sample(rng))).mkString(" ")
      Row(i.toLong, text, Langs(rng.nextInt(Langs.size)),
        s"src${rng.nextInt(10)}", text.length.toLong)
    }
  }

  val Dims = 32
  val Clusters = 16
  /** Per-dimension noise around a unit centre: tight enough that each
    * cluster lands in the IVF lists nearest its centre. */
  val Spread = 0.03

  /** Unit cluster centres; embeddings and queries scatter around them. */
  def centres(seed: Long): IndexedSeq[Array[Double]] = {
    val rng = new SplittableRandom(seed * 43 + 2)
    IndexedSeq.fill(Clusters)(unit(Array.fill(Dims)(gauss(rng))))
  }

  def near(c: Array[Double], spread: Double, rng: SplittableRandom): Array[Float] =
    c.map(x => (x + spread * gauss(rng)).toFloat)

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def embeddings(n: Int, seed: Long): Seq[Row] = {
    val cs = centres(seed)
    val rng = new SplittableRandom(seed * 47 + 3)
    (0 until n).map(i =>
      Row(i.toLong, near(cs(rng.nextInt(Clusters)), Spread, rng).toSeq))
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream
    val u = math.max(rng.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
