package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Input sizes of one run. `full` is what the benchmark measures;
  * `smoke` is the tiny scale of the smoke test. */
final case class Scale(name: String, serveRows: Int, tempRows: Int,
                       tempOrders: Int, maintainDocs: Int, documents: Int,
                       embeddings: Int, buckets: Int, setupReps: Int)

object Scale {
  val full = Scale("full", serveRows = 120000, tempRows = 60000,
    tempOrders = 15000, maintainDocs = 10000, documents = 2000,
    embeddings = 1000, buckets = 4, setupReps = 3)
  val smoke = Scale("smoke", serveRows = 6000, tempRows = 6000,
    tempOrders = 1500, maintainDocs = 1500, documents = 500,
    embeddings = 500, buckets = 4, setupReps = 2)
  def apply(name: String): Scale = name match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** Per-run context handed to a workload. Every path lives under the
  * run's own scratch directory `work`. */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Scale,
                val work: String, val corrupt: Boolean) {
  def path(rel: String): String = s"$work/$rel"

  /** Seconds spent in each named set-up phase, one entry per repeat. */
  val phaseS = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = Spans(name)(f)
    phaseS.getOrElseUpdate(name, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** An independent seeded stream per purpose. */
  def rng(stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** What one op did, for the traced per-layer metrics. */
final case class OpInfo(family: String, rowsReturned: Long = 0L)

trait Workload {
  /** Writes the seeded inputs (not part of set-up time). */
  def generate(): Unit
  /** One full index build from scratch. Called `setupReps` times. */
  def setup(): Unit
  /** One untimed pass over the op pool, after the last build. */
  def warmup(): Unit
  /** More untimed ops so the JIT settles before the timed loop; not
    * part of set-up time. */
  def settle(): Unit
  /** Checks every distinct op against its reference; failures. */
  def verify(): Seq[String]
  /** Runs op `i` of the seeded closed-loop schedule. */
  def op(i: Int): OpInfo
  /** End-of-run checks on the final state; failures. */
  def finalCheck(): Seq[String] = Nil
  /** Directories holding the workload's persisted indexes. */
  def indexDirs: Seq[String]
  /** Live rows those indexes hold (denominator of bytes per row). */
  def indexedRows: Long
  /** Workload-specific metrics, computed at the end of the run. */
  def extraMetrics: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** One distinct op of a read workload's pool: `run` builds the
  * DataFrame through graft (its execution is the harness's part),
  * `reference` computes the expected rows with plain Spark. */
final case class PoolOp(family: String, label: String, run: () => DataFrame,
                        reference: () => Seq[Row], tol: Double = Check.RelTol)

/** Seeded op schedule: each cycle holds every family its fixed number
  * of times in a fresh seeded order, so the mix is the same in every
  * run; within a family, pool entries are drawn Zipf(`skew`) (0 is
  * uniform). */
final class Schedule(mix: Seq[(String, Int)], pool: IndexedSeq[PoolOp],
                     skew: Double, rng: SplittableRandom) {
  private val byFamily = pool.indices.groupBy(pool(_).family)
  private val zipf = byFamily.map { case (f, ix) => f -> new Gen.Zipf(ix.size, skew) }
  private val cycle = mix.flatMap { case (f, n) => Seq.fill(n)(f) }.toArray
  private var pos = cycle.length

  def next(): Int = {
    if (pos == cycle.length) {
      for (i <- cycle.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1)
        val t = cycle(i); cycle(i) = cycle(j); cycle(j) = t
      }
      pos = 0
    }
    val f = cycle(pos)
    pos += 1
    byFamily(f)(zipf(f).sample(rng))
  }
}

/** A read workload over a fixed pool of distinct ops: the warm-up pass
  * collects each op's rows once, `verify` checks them against the
  * references, the timed loop runs the schedule through the noop sink. */
abstract class PoolWorkload(ctx: Ctx) extends Workload {
  def pool: IndexedSeq[PoolOp]
  def mix: Seq[(String, Int)]
  /** Zipf exponent of the pick within a family. */
  def skew: Double = 1.0

  private lazy val schedule = new Schedule(mix, pool, skew, ctx.rng(7))
  private val results = mutable.Map.empty[Int, Either[String, Seq[Row]]]

  def warmup(): Unit = pool.indices.foreach { i =>
    results(i) =
      try Right(pool(i).run().collect().toSeq)
      catch { case e: Exception => Left(Main.describe(e)) }
  }

  def settle(): Unit = pool.foreach(p => ctx.noop(p.run()))

  def verify(): Seq[String] = pool.indices.flatMap { i =>
    val p = pool(i)
    results.get(i) match {
      case None => Some(s"${p.label}: never ran")
      case Some(Left(err)) => Some(s"${p.label}: $err")
      case Some(Right(got)) =>
        val want = p.reference()
        Check.rows(got, if (ctx.corrupt) Check.corrupt(want) else want, p.tol)
          .map(m => s"${p.label}: $m")
    }
  }

  def op(i: Int): OpInfo = {
    val k = schedule.next()
    val p = pool(k)
    val df = p.run()
    Spans("spark.execute")(ctx.noop(df))
    OpInfo(p.family, results.get(k).flatMap(_.toOption).map(_.length.toLong).getOrElse(0L))
  }
}
