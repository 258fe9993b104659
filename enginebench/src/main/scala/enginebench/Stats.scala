package enginebench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Sample statistics, the result digest and the interval arithmetic the
  * layer metrics are built from. Pure functions; the benchmark's tests pin
  * each rule. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail reported for `op_tail_s`: the highest whole percentile p with
    * at least ten samples ranked beyond it (nearest rank), i.e.
    * p = floor(100·(n−10)/n). Up to n = 20 that p is at or under the
    * median (and below n = 11 no p exists), so the maximum is reported
    * instead, as p = 100. Returns (p, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val p = (100L * (n - 10) / n).toInt
    if (p <= 50) (100, s.last)
    else (p, s(math.ceil(p * n / 100.0).toInt - 1))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of `[start, end)` covered by none of `children` (each clipped to
    * the window): a span's self time, and an op's gap outside Spark jobs. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(children.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** Row count and an order-insensitive hash of a result: each row is
    * rendered to one string (NULL distinct from every value), hashed, and
    * the hashes are summed exactly, so neither row order nor partitioning
    * can move it. The sums ride an observation on the same `noop` write a
    * timed op makes: the metrics node is not code-generated, so the plan
    * compiles exactly the stages the timed op will reuse. */
  def digest(df: DataFrame): (Long, String) = {
    val rendered = df.columns.toSeq.map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
    val h = xxhash64(concat_ws("\u0001", rendered: _*)).cast("decimal(38,0)")
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), sum(h).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0"))
  }
}
