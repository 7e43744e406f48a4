package perfbench

import org.apache.spark.sql.Row

/** Correctness checks on the outputs the benchmark times. */
object Gate {

  /** Canonical text of one value. Doubles keep 9 significant digits:
    * operators whose float sums depend on task completion order
    * (PageRank, cosine folds) must still hash the same on every pass.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" // folds -0.0 into 0.0
      else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case o => o.toString
  }

  def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x3c6ef372).toLong & 0xffffffffL)
  }

  /** Row count and an order-independent hash: the wrapping sum of the
    * per-row hashes, so duplicate rows count and row order does not.
    */
  def rowHash(rows: Iterable[Row]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += hash64(render(r)) }
    (n, h)
  }

  def fmtRowHash(nh: (Long, Long)): String = s"${nh._1}:${java.lang.Long.toHexString(nh._2)}"

  /** Digest of a fitted model: both selections and every weight
    * rounded to 6 decimals (summation-order drift sits near 1e-12).
    */
  def reliefDigest(std: Array[Int], red: Array[Int], wf: Array[Int], wv: Array[Double]): String = {
    val w = wf.indices.map(i => s"${wf(i)}=" + BigDecimal(wv(i)).setScale(6, BigDecimal.RoundingMode.HALF_EVEN))
    java.lang.Long.toHexString(hash64(std.mkString(",") + "|" + red.mkString(",") + "|" + w.mkString(",")))
  }

  type Expected = Map[(String, Int, String), String]

  /** Parses `workload<TAB>variant<TAB>key<TAB>value` lines. */
  def parseExpected(lines: Iterator[String]): Expected =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(w, v, k, x) = l.split("\t", 4)
      (w, v.toInt, k) -> x
    }.toMap

  /** None when `actual` equals the stored value; otherwise the reason. */
  def check(expected: Expected, workload: String, variant: Int, key: String,
      actual: String): Option[String] =
    expected.get((workload, variant, key)) match {
      case None => Some(s"no stored value for $workload/$variant/$key")
      case Some(e) if e == actual => None
      case Some(e) => Some(s"$workload/$variant/$key: expected $e, got $actual")
    }
}
