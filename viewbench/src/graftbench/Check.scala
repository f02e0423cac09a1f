package graftbench

import org.apache.spark.sql.Row

/** Value comparison for the correctness checks: exact on everything
  * but floating point, which compares within a relative tolerance
  * (sums aggregate in a plan-dependent order). */
object Check {
  val RelTol = 1e-9

  def close(a: Double, b: Double, tol: Double): Boolean =
    a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def same(a: Any, b: Any, tol: Double = RelTol): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => close(x, y, tol)
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble, tol)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i), tol))
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q, tol) }
    case _ => a == b
  }

  /** None when `got` equals `want` row for row, else a short reason. */
  def rows(got: Seq[Row], want: Seq[Row], tol: Double = RelTol): Option[String] =
    if (got.length != want.length)
      Some(s"row count ${got.length} != expected ${want.length}" +
        want.headOption.map(w => s"; first expected $w").getOrElse(""))
    else got.indices.find(i => !same(got(i), want(i), tol)).map(i =>
      s"row $i: got ${got(i)} expected ${want(i)}")

  /** The deliberately corrupted reference of the smoke test: the last
    * expected row is dropped (or, for an empty result, one is added). */
  def corrupt(want: Seq[Row]): Seq[Row] =
    if (want.isEmpty) Seq(Row(-1L)) else want.dropRight(1)
}
