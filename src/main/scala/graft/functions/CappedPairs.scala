package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._

/** Df-capped gram-pair expansion as ONE aggregate (SURVEY §2.11
  * extension surface) — the single-shuffle engine of the substring-span
  * dedup family.
  *
  * Semantics (shared verbatim with the DuckDB oracle's relational
  * form): group char-gram occurrences (doc_id, pos) by gram hash; a
  * hash "blocks" iff it occurs 2..cap times across ≥ 2 distinct docs;
  * each blocking hash emits every cross-document occurrence pair with
  * a_id < b_id. The r7/early-r8 shapes needed a df-probe aggregate
  * PLUS a grams⋈keep join (two corpus-sized exchanges, two runs of the
  * gram map pipeline); this aggregator does both in one pass because
  * the CAP lives inside the buffer: once a group has seen cap+1 rows
  * it can never block, so the buffer stops growing — no unbounded
  * collect_list group can exist at ANY corpus size, which is exactly
  * the guarantee the join-first shape existed to provide.
  *
  * Buffer: flat Seq[Long] of (doc_id, pos) pairs, length-capped at
  * 2·(cap+1) — fixed-width array encoding, no kryo on the shuffle hot
  * path (unlike TopK, this aggregate sees ~one group per input row
  * map-side, so partial-buffer serialization IS the shuffle format).
  * Overflow is encoded by length > 2·cap; merge saturates the same
  * way, so partial merges commute.
  */
final case class GramPair(a_id: Long, b_id: Long, ai: Long, bi: Long)

class CappedPairs(cap: Int) extends Aggregator[(Long, Long), Seq[Long], Seq[GramPair]] {
  private val maxLen = 2 * (cap + 1)

  override def zero: Seq[Long] = Nil

  override def reduce(b: Seq[Long], a: (Long, Long)): Seq[Long] =
    if (b.length >= maxLen) b else a._1 +: a._2 +: b

  override def merge(x: Seq[Long], y: Seq[Long]): Seq[Long] = {
    val m = x ++ y
    if (m.length > maxLen) m.take(maxLen) else m
  }

  override def finish(b: Seq[Long]): Seq[GramPair] = {
    val n = b.length / 2
    if (n < 2 || n > cap) Nil
    else {
      val ds = new Array[Long](n); val ps = new Array[Long](n)
      var k = 0
      val it = b.iterator
      while (it.hasNext) { ds(k) = it.next(); ps(k) = it.next(); k += 1 }
      val out = Seq.newBuilder[GramPair]
      var x = 0
      while (x < n) {
        var y = 0
        while (y < n) {
          if (ds(x) < ds(y)) out += GramPair(ds(x), ds(y), ps(x), ps(y))
          y += 1
        }
        x += 1
      }
      out.result()
    }
  }

  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  override def outputEncoder: Encoder[Seq[GramPair]] = ExpressionEncoder[Seq[GramPair]]()
}

object CappedPairsAgg {
  /** Mutable primitive buffer: interleaved (doc_id, pos) longs, no
    * boxing, grown geometrically up to the saturation cap. */
  final class LongBuf(var a: Array[Long], var n: Int)

  val pairSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("ai", LongType, nullable = false),
    StructField("bi", LongType, nullable = false)))
}

/** Native-Catalyst twin of [[CappedPairs]] — same semantics (see that
  * scaladoc; the ScalaTest spec pins them equal), ~2× cheaper per row:
  * the `udaf(Aggregator)` path decodes every input row to a boxed
  * `(Long, Long)`, builds cons-cell `Seq` buffers, and round-trips
  * every partial buffer through an `ExpressionEncoder`; this
  * `TypedImperativeAggregate` reads the two child expressions straight
  * off the `InternalRow`, appends into a primitive long array, and
  * serializes buffers as raw little-endian bytes. Measured (4 cores,
  * sf0.1, steady; BASELINE.md, DevSpanExp rows): 1.73 s → 1.18 s for
  * the full groupBy(h)+explode pipeline — the residual is the gram exchange
  * itself (the codegen count-probe floor is 1.18 s too).
  */
case class CappedPairsAgg(
    docId: Expression,
    pos: Expression,
    cap: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedPairsAgg.LongBuf]
  with BinaryLike[Expression] {
  import CappedPairsAgg._

  private val maxLen = 2 * (cap + 1)

  override def left: Expression = docId
  override def right: Expression = pos
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(pairSchema, containsNull = false)
  override def prettyName: String = "capped_pairs"

  override def createAggregationBuffer(): LongBuf =
    new LongBuf(new Array[Long](8), 0)

  private def asLong(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case other => other.asInstanceOf[Long]
  }

  override def update(b: LongBuf, in: InternalRow): LongBuf = {
    if (b.n < maxLen) {
      val d = docId.eval(in)
      val p = pos.eval(in)
      if (d != null && p != null) {
        if (b.n + 2 > b.a.length) {
          val g = new Array[Long](math.max(math.min(b.a.length * 2, maxLen), b.n + 2))
          System.arraycopy(b.a, 0, g, 0, b.n)
          b.a = g
        }
        b.a(b.n) = asLong(d)
        b.a(b.n + 1) = asLong(p)
        b.n += 2
      }
    }
    b
  }

  // saturates at maxLen like reduce — contents past 2·cap never matter
  // because eval discards any group that exceeded the cap
  override def merge(x: LongBuf, y: LongBuf): LongBuf = {
    val take = math.min(y.n, maxLen - x.n)
    if (take > 0) {
      if (x.n + take > x.a.length) {
        val g = new Array[Long](x.n + take)
        System.arraycopy(x.a, 0, g, 0, x.n)
        x.a = g
      }
      System.arraycopy(y.a, 0, x.a, x.n, take)
      x.n += take
    }
    x
  }

  override def eval(b: LongBuf): Any = {
    val n = b.n / 2
    if (n < 2 || n > cap) new GenericArrayData(Array.empty[Any])
    else {
      val out = Array.newBuilder[Any]
      var x = 0
      while (x < n) {
        val dx = b.a(2 * x)
        var y = 0
        while (y < n) {
          val dy = b.a(2 * y)
          if (dx < dy) out += new GenericInternalRow(
            Array[Any](dx, dy, b.a(2 * x + 1), b.a(2 * y + 1)))
          y += 1
        }
        x += 1
      }
      new GenericArrayData(out.result())
    }
  }

  override def serialize(b: LongBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * b.n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < b.n) { bb.putLong(b.a(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LongBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / 8
    val a = new Array[Long](math.max(n, 8))
    var i = 0
    while (i < n) { a(i) = bb.getLong(); i += 1 }
    new LongBuf(a, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedPairsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedPairsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CappedPairsAgg =
    copy(docId = newLeft, pos = newRight)
}
