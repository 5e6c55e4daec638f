package perfbench

import org.apache.spark.sql.Row

/** Result comparison that tolerates only floating-point summation order. */
object Check {
  private def key(v: Any): String = v match {
    case d: Double => f"$d%.4e"
    case f: Float => f"${f.toDouble}%.4e"
    case s: scala.collection.Seq[_] => s.map(key).mkString("[", ",", "]")
    case null => "null"
    case o => o.toString
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) + 1e-9
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** Same multiset of rows, in any order. */
  def sameRows(got: Array[Row], want: Array[Row]): Boolean = {
    if (got.length != want.length) return false
    def sorted(rs: Array[Row]) = rs.map(r => (r.toSeq.map(key).mkString("|"), r))
      .sortBy(_._1).map(_._2)
    sorted(got).zip(sorted(want)).forall { case (a, b) =>
      a.length == b.length && (0 until a.length).forall(i => close(a.get(i), b.get(i)))
    }
  }
}
