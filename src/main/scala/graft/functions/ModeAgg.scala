package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Counter-compatible mode aggregator (SURVEY.md §2.6 D1, §7.3).
  *
  * Python's `Counter(lst).most_common(1)` returns the *first-inserted*
  * key among count ties; a plain `mode()` is tie-arbitrary. This typed
  * `Aggregator` carries (count, min first-seen order) per value and
  * resolves ties by earliest first-seen — a single-pass, partial-
  * aggregating alternative to the two-aggregate formulation in
  * [[graft.enrich.Enrich.mode]] (use this one when the extra shuffle of
  * that approach matters; both give identical answers).
  *
  * Input: (value, orderKey) where orderKey is the frame number /
  * sequence position of the observation.
  */
object ModeAgg extends Aggregator[(String, Long), Map[String, (Long, Long)], String] {

  override def zero: Map[String, (Long, Long)] = Map.empty

  override def reduce(buf: Map[String, (Long, Long)],
      in: (String, Long)): Map[String, (Long, Long)] = {
    val (value, ord) = in
    if (value == null) buf
    else {
      val (c, first) = buf.getOrElse(value, (0L, Long.MaxValue))
      buf.updated(value, (c + 1, math.min(first, ord)))
    }
  }

  override def merge(a: Map[String, (Long, Long)],
      b: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    b.foldLeft(a) { case (acc, (v, (c, f))) =>
      val (c0, f0) = acc.getOrElse(v, (0L, Long.MaxValue))
      acc.updated(v, (c0 + c, math.min(f0, f)))
    }

  /** Value tie-break must order by UTF-8 BYTES (what Spark's binary
    * string comparison and DuckDB both use) — Scala's String ordering
    * compares UTF-16 code units and disagrees for supplementary-plane
    * characters. */
  private val utf8Ordering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  override def finish(buf: Map[String, (Long, Long)]): String =
    if (buf.isEmpty) null
    // count desc, first-seen asc, value asc — the value tie-break pins
    // the one case Counter order can't survive distribution: two values
    // first appearing in the SAME row with equal final counts
    else buf.minBy { case (v, (c, f)) => (-c, f, v) }(
      Ordering.Tuple3(Ordering.Long, Ordering.Long, utf8Ordering))._1

  override def bufferEncoder: Encoder[Map[String, (Long, Long)]] =
    Encoders.kryo[Map[String, (Long, Long)]]
  override def outputEncoder: Encoder[String] = Encoders.STRING

  /** Untyped Column form: mode_first_seen(value, orderKey). */
  def column(value: Column, orderKey: Column): Column =
    udaf(ModeAgg).apply(value, orderKey)
}
