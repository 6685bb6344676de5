package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Deterministic distributed ARGMAX over (value, id) candidates — the
  * hash-aggregable form of the `max(struct(value, -id))` assignment
  * argmax (round 21, VERDICT r20 next #3).
  *
  * Why not `max(struct)`: a declarative max over a struct buffer is
  * not hash-aggregable (a struct is not a mutable fixed-width
  * UnsafeRow type), so the partial/final pair plans as SortAggregate —
  * every task pays a local sort over the scored candidate stream even
  * though the exchange already shrank cells-fold. An `Aggregator`
  * (ScalaAggregator = TypedImperativeAggregate — the KmvAgg/TopKAgg
  * precedent) plans as ObjectHashAggregate: constant-size buffer, one
  * compare-and-swap per row, no sort.
  *
  * ObjectHashAggregate keeps the no-sort promise up to
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups
  * per task (128 by default). Past it the operator falls back to
  * sort-based aggregation for the rest of the task's input, and the
  * assignment argmaxes group by vector id, so a large partition still
  * sorts much of its stream. The threshold is left at its default.
  *
  * Ordering is EXACTLY the struct-max's: values compared the way
  * Spark's `SQLOrderingUtil.compareDoubles` does — equal under `==`
  * first (so -0.0 ties 0.0), then `java.lang.Double.compare` (NaN
  * greatest, NaN ties NaN) — and ties go to the SMALLEST id (the
  * struct form encodes this as max over the negated id).
  *
  * Precondition: value and id are non-null. The struct form would rank
  * a null value lowest; the typed buffer holds primitives, so
  * [[ArgMaxAgg.udafColumn]] fails a null value with a `raise_error`
  * naming ArgMaxAgg instead of an encoder NPE. ArgMaxAggSpec pins
  * equality against the struct formulation, ±0.0, tie, NaN and null
  * cases included.
  */
class ArgMaxAgg extends Aggregator[Ranked, Ranked, Long] {

  // Spark SQL's double order (SQLOrderingUtil.compareDoubles), ties to
  // the smaller key — fully deterministic for any tie pattern
  private def wins(x: Ranked, incumbent: Ranked): Boolean = {
    val c =
      if (x.price == incumbent.price) 0 else java.lang.Double.compare(x.price, incumbent.price)
    c > 0 || (c == 0 && x.key < incumbent.key)
  }

  /** Neutral element: loses to every real candidate (−∞ value; the
    * MaxValue key loses even a −∞ tie). Groups are never empty under
    * groupBy, so the sentinel can only surface if no row was reduced. */
  override def zero: Ranked = Ranked(Double.NegativeInfinity, Long.MaxValue)

  override def reduce(buf: Ranked, x: Ranked): Ranked =
    if (wins(x, buf)) x else buf

  override def merge(a: Ranked, b: Ranked): Ranked =
    if (wins(b, a)) b else a

  override def finish(r: Ranked): Long = r.key

  override def bufferEncoder: Encoder[Ranked] = Encoders.product[Ranked]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

object ArgMaxAgg {
  /** Aggregation column: id of the row maximizing `value`, ties to the
    * smallest id. A null `value` fails the query, naming ArgMaxAgg. */
  def udafColumn(value: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, lit, raise_error, udaf}
    udaf(new ArgMaxAgg, Encoders.product[Ranked]).apply(
      coalesce(value, raise_error(lit("ArgMaxAgg: null value; the argmax needs non-null scores"))), id)
  }
}
