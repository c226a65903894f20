package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Exact per-token-id instance counts over an array<int> column, as ONE
  * mergeable aggregate — the r6 replacement for the
  * explode + groupBy(source, token) wordcount in the hot token-family
  * queries (v_token_topk / v_vocab_coverage / v_cms_topk_est /
  * v_rare_tokens / v_token_drift).
  *
  * Why: the explode shape materializes one row PER TOKEN INSTANCE
  * (~264M at sf0.1) and then hash-aggregates them under a
  * (source string, token int) key — measured 11-19 s at local[32],
  * ~3x slower than the same aggregation under an int-only key purely
  * from per-instance UnsafeRow hashing (OPTIMIZATION_r06.md
  * "Round-start measurement"). This aggregate keeps the loop INSIDE one
  * update() call per row: token ids in [0, denseSize) increment a dense
  * long array (one bounds check + one add per instance, no hashing);
  * out-of-range ids (the injected corrupt rows) and null elements go to
  * a small overflow map. Group keys (source) are then probed once per
  * ROW, not once per instance.
  *
  * Scale shape: identical to the sketch aggregates — partial buffers
  * are |vocab|-bounded regardless of row count, the merge is
  * elementwise addition (associative+commutative), and only serialized
  * buffer state crosses the wire: O(#partitions × |sources| × |vocab|)
  * bytes, vs O(distinct (source, token) per partition) ROWS for the
  * explode shape — strictly fewer bytes and no per-instance shuffle
  * machinery. Counts are exact integers, so every downstream consumer
  * (and the DuckDB oracle) sees bit-identical values.
  */
object TokenHist {

  /** denseSize covers the engine vocab (ids hash mod 2^18 —
    * gen.TokenData.VOCAB); anything outside is correctness-identical via
    * the overflow map, just slower per instance.
    */
  val DefaultDenseSize: Int = 262144

  final class Hist(val denseSize: Int) {
    val dense = new Array[Long](denseSize)
    var overflow: java.util.HashMap[Integer, Long] = null
    var nulls: Long = 0L

    def addOverflow(tok: Int, cnt: Long): Unit = {
      if (overflow == null) overflow = new java.util.HashMap[Integer, Long]()
      val k = Integer.valueOf(tok)
      val prev = overflow.get(k)
      overflow.put(k, if (prev == null) cnt else prev + cnt)
    }

    def update(a: ArrayData): Unit = {
      val n = a.numElements()
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) nulls += 1
        else {
          val v = a.getInt(i)
          if (v >= 0 && v < denseSize) dense(v) += 1
          else addOverflow(v, 1L)
        }
        i += 1
      }
    }

    def merge(o: Hist): Unit = {
      var i = 0
      while (i < denseSize) { dense(i) += o.dense(i); i += 1 }
      if (o.overflow != null) {
        val it = o.overflow.entrySet().iterator()
        while (it.hasNext) { val e = it.next(); addOverflow(e.getKey, e.getValue) }
      }
      nulls += o.nulls
    }
  }

  case class TokenHistAgg(
      child: Expression,
      denseSize: Int = DefaultDenseSize,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Hist] with UnaryLike[Expression] {

    override def createAggregationBuffer(): Hist = new Hist(denseSize)

    override def update(buf: Hist, input: InternalRow): Hist = {
      val v = child.eval(input)
      if (v != null) buf.update(v.asInstanceOf[ArrayData])
      buf
    }

    override def merge(buf: Hist, other: Hist): Hist = { buf.merge(other); buf }

    /** (token ASC entries with cnt > 0; overflow entries token ASC; then
      * one null-token entry when null elements were seen) — the same
      * (token, cnt) multiset explode+groupBy produces, entry order
      * irrelevant to every aggregate consumer but kept deterministic.
      */
    override def eval(buf: Hist): Any = {
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      // overflow negatives sort before the dense range, positives after
      val (neg, pos) =
        if (buf.overflow == null) (Nil, Nil)
        else {
          import scala.jdk.CollectionConverters._
          val all = buf.overflow.entrySet().asScala.toSeq
            .map(e => (e.getKey.intValue(), e.getValue.longValue())).sortBy(_._1)
          all.partition(_._1 < 0)
        }
      neg.foreach { case (t, c) => out += new GenericInternalRow(Array[Any](t, c)) }
      var i = 0
      while (i < buf.denseSize) {
        if (buf.dense(i) > 0) out += new GenericInternalRow(Array[Any](i, buf.dense(i)))
        i += 1
      }
      pos.foreach { case (t, c) => out += new GenericInternalRow(Array[Any](t, c)) }
      if (buf.nulls > 0) out += new GenericInternalRow(Array[Any](null, buf.nulls))
      new GenericArrayData(out.toArray[Any])
    }

    /** Sparse (token, cnt) pair encoding — buffers are typically much
      * sparser than |vocab| per partition, and the wire format is what
      * the exchange actually ships.
      */
    override def serialize(buf: Hist): Array[Byte] = {
      var nz = 0
      var i = 0
      while (i < buf.denseSize) { if (buf.dense(i) != 0) nz += 1; i += 1 }
      val novf = if (buf.overflow == null) 0 else buf.overflow.size()
      val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + (nz + novf) * 12 + 4)
      bb.putInt(buf.denseSize)
      bb.putLong(buf.nulls)
      bb.putInt(nz)
      i = 0
      while (i < buf.denseSize) {
        if (buf.dense(i) != 0) { bb.putInt(i); bb.putLong(buf.dense(i)) }
        i += 1
      }
      bb.putInt(novf)
      if (buf.overflow != null) {
        val it = buf.overflow.entrySet().iterator()
        while (it.hasNext) { val e = it.next(); bb.putInt(e.getKey); bb.putLong(e.getValue) }
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Hist = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val h = new Hist(bb.getInt())
      h.nulls = bb.getLong()
      var nz = bb.getInt()
      while (nz > 0) { val t = bb.getInt(); h.dense(t) = bb.getLong(); nz -= 1 }
      var novf = bb.getInt()
      while (novf > 0) { h.addOverflow(bb.getInt(), bb.getLong()); novf -= 1 }
      h
    }

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("token", IntegerType, nullable = true),
        StructField("cnt", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(o: Int): TokenHistAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TokenHistAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): TokenHistAgg = copy(child = c)
    override def prettyName: String = "token_hist_agg"
  }

  /** Column API: token_hist_agg(tokens) → array<struct<token, cnt>>. */
  def token_hist_agg(c: Column): Column =
    ColumnBridge.column(TokenHistAgg(ColumnBridge.expression(c)).toAggregateExpression())
}
