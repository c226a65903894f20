package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Mergeable quantile sketches: t-digest and KLL, both DataSketches
  * (BASELINE.json's north star names "token-length histograms via
  * t-digest").
  *
  * - t-digest is a custom TypedImperativeAggregate ([[TDigestAgg]]) with
  *   quantile/CDF/summary extractors: Spark ships no t-digest.
  * - KLL is Spark 4.1's built-in `kll_sketch_agg_double` family. The
  *   `kll_*` functions below are compositions of it that add only what
  *   the built-ins lack (see the KLL section).
  *
  * KLL has a provable worst-case rank error (~1.65% at k=200) where
  * t-digest's is empirical; callers pick KLL for guarantees, t-digest
  * for extreme-tail resolution.
  *
  * Scale design: classic partial+final sketch aggregation. Each executor
  * folds its partitions into a local sketch, only the serialized sketch
  * states (~KB, independent of row count) cross the wire, and the final
  * merge is associative and commutative. Both sketches carry exact
  * n/min/max alongside the approximate quantile surface, so the oracle
  * pins the exact fields while tests bound the approximate ones.
  *
  * Reference seed: minItems/maxItems (PJS:_keywords.py:194-203) lifted
  * from a per-row bound to a full distribution (SURVEY.md §2.5).
  */
object QuantileSketches {

  // ----------------------------------------------------------------- t-digest

  /** t-digest aggregate → serialized TDigestDouble (BinaryType).
    * Extraction via [[TDigestQuantiles]] / [[TDigestCdf]].
    */
  case class TDigestAgg(
      child: Expression,
      k: Short = 200,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TDigestDouble] with UnaryLike[Expression] {

    override def createAggregationBuffer(): TDigestDouble = new TDigestDouble(k)

    override def update(buf: TDigestDouble, input: InternalRow): TDigestDouble = {
      val v = child.eval(input)
      if (v != null) buf.update(numeric(v))
      buf
    }

    override def merge(buf: TDigestDouble, other: TDigestDouble): TDigestDouble = {
      buf.merge(other); buf
    }

    override def eval(buf: TDigestDouble): Any = {
      buf.compress()
      buf.toByteArray
    }

    override def serialize(buf: TDigestDouble): Array[Byte] = { buf.compress(); buf.toByteArray }
    override def deserialize(bytes: Array[Byte]): TDigestDouble =
      TDigestDouble.heapify(Memory.wrap(bytes))

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): TDigestAgg = copy(child = c)
    override def prettyName: String = "tdigest_agg"
  }

  /** quantiles(serialized t-digest, probs) → array<double>. Runs once per
    * aggregated group (not per row) — CodegenFallback is free here.
    */
  case class TDigestQuantiles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(bin: Any, probs: Any): Any = {
      val td = TDigestDouble.heapify(Memory.wrap(bin.asInstanceOf[Array[Byte]]))
      val ps = probs.asInstanceOf[ArrayData].toDoubleArray()
      new GenericArrayData(ps.map(p => if (td.isEmpty) Double.NaN else td.getQuantile(p)))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TDigestQuantiles =
      copy(left = l, right = r)
    override def prettyName: String = "tdigest_quantiles"
  }

  /** CDF of a serialized t-digest at the given split points → array<double>
    * (the mergeable substrate for sketch-based KS drift: D = max |cdf_a - cdf_b|).
    */
  case class TDigestCdf(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(bin: Any, splits: Any): Any = {
      val td = TDigestDouble.heapify(Memory.wrap(bin.asInstanceOf[Array[Byte]]))
      val ss = splits.asInstanceOf[ArrayData].toDoubleArray()
      if (td.isEmpty) new GenericArrayData(ss.map(_ => Double.NaN))
      else new GenericArrayData(td.getCDF(ss))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TDigestCdf =
      copy(left = l, right = r)
    override def prettyName: String = "tdigest_cdf"
  }

  /** Exact total weight / min / max carried by a serialized t-digest —
    * these fields are EXACT (not sketched), so they are oracle-comparable.
    */
  case class TDigestSummary(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("min", DoubleType, nullable = false),
      StructField("max", DoubleType, nullable = false)))
    override def nullSafeEval(bin: Any): Any = {
      val td = TDigestDouble.heapify(Memory.wrap(bin.asInstanceOf[Array[Byte]]))
      val (mn, mx) = if (td.isEmpty) (Double.NaN, Double.NaN) else (td.getMinValue, td.getMaxValue)
      InternalRow(td.getTotalWeight, mn, mx)
    }
    override protected def withNewChildInternal(c: Expression): TDigestSummary = copy(child = c)
    override def prettyName: String = "tdigest_summary"
  }

  // -------------------------------------------------------------- Column API

  private def numeric(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case s: Short  => s.toDouble
    case b: Byte   => b.toDouble
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(s"non-numeric sketch input: $other")
  }

  def tdigest_agg(c: Column, k: Short = 200): Column =
    ColumnBridge.column(TDigestAgg(ColumnBridge.expression(c), k).toAggregateExpression())
  def tdigest_quantiles(sketch: Column, probs: Column): Column =
    ColumnBridge.column(TDigestQuantiles(ColumnBridge.expression(sketch), ColumnBridge.expression(probs)))
  def tdigest_cdf(sketch: Column, splits: Column): Column =
    ColumnBridge.column(TDigestCdf(ColumnBridge.expression(sketch), ColumnBridge.expression(splits)))
  def tdigest_summary(sketch: Column): Column =
    ColumnBridge.column(TDigestSummary(ColumnBridge.expression(sketch)))

  // ---------------------------------------------------------------------- KLL
  // Spark's built-in KLL sketch (DataSketches KLL doubles, INCLUSIVE ranks; k=200
  // has ~1.65% worst-case rank error). On top of the built-ins: a double
  // cast (the aggregate rejects INT), NaN from an empty sketch (the
  // built-in extractors throw on one), and a CDF at computed split points
  // (the built-in extractors take literal ranks and quantiles only).
  import org.apache.spark.sql.functions._

  def kll_agg(c: Column, k: Int = 200): Column = kll_sketch_agg_double(c.cast("double"), k)

  private def nonEmpty(sketch: Column, v: Column, empty: Column): Column =
    when(kll_sketch_get_n_double(sketch) > 0, v).otherwise(empty)

  private def nanArray(n: Column): Column = array_repeat(lit(Double.NaN), n)

  /** quantiles(sketch, literal probs) → array<double>; NaNs when empty. */
  def kll_quantiles(sketch: Column, probs: Column): Column =
    nonEmpty(sketch, kll_sketch_get_quantile_double(sketch, probs), nanArray(size(probs)))

  /** Exact (n, min, max): the quantiles at ranks 0 and 1 are the exact
    * min and max the sketch keeps. NaN min/max when empty.
    */
  def kll_summary(sketch: Column): Column = struct(
    kll_sketch_get_n_double(sketch).as("n"),
    nonEmpty(sketch, kll_sketch_get_quantile_double(sketch, lit(0.0)), lit(Double.NaN)).as("min"),
    nonEmpty(sketch, kll_sketch_get_quantile_double(sketch, lit(1.0)), lit(Double.NaN)).as("max"))

  /** Ranks at which [[kll_cdf]] reads the sketch's quantile function. */
  private val CdfGrid = 1000

  /** CDF at split points (any expression) → array<double> of length
    * #splits + 1, the last entry 1.0; NaNs (#splits) when empty. A
    * sketch rank of x is at least j/m iff its quantile at j/m is ≤ x, so
    * counting the quantiles at ranks 1/m..1 that are ≤ x gives
    * floor(m·rank(x))/m with m = [[CdfGrid]]: at most 0.001 below the
    * sketch's own rank.
    */
  def kll_cdf(sketch: Column, splits: Column): Column = {
    val grid = kll_sketch_get_quantile_double(sketch, typedLit((1 to CdfGrid).map(_.toDouble / CdfGrid).toArray))
    val ranks = transform(array(grid), qs =>
      transform(splits, x => size(filter(qs, _ <= x)) / CdfGrid)).getItem(0)
    nonEmpty(sketch, concat(ranks, array(lit(1.0))), nanArray(size(splits)))
  }
}
