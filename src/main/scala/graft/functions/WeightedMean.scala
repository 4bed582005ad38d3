package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF example (SURVEY.md §2.6: "Aggregator[IN,BUF,OUT] if ever
  * needed"): weighted mean with a (Σwx, Σw) buffer — partial+final
  * merge exactly like a built-in, so Catalyst plans it with map-side
  * combine. Used by HealpixMap weighted degrade (pixel areas /
  * hit counts as weights).
  */
object WeightedMean extends Aggregator[(Double, Double), (Double, Double), Double] {
  override def zero: (Double, Double) = (0.0, 0.0)
  override def reduce(b: (Double, Double), in: (Double, Double)): (Double, Double) =
    (b._1 + in._1 * in._2, b._2 + in._2) // in = (value, weight)
  override def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
    (a._1 + b._1, a._2 + b._2)
  override def finish(r: (Double, Double)): Double =
    if (r._2 == 0.0) 0.0 else r._1 / r._2
  override def bufferEncoder: Encoder[(Double, Double)] =
    Encoders.product[(Double, Double)]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  // plans print the aggregator: a stable name instead of `WeightedMean$@<hash>`
  override def toString: String = "WeightedMean"
}
