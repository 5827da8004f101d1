package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bloom filter as a native `TypedImperativeAggregate` — the mergeable
  * MEMBERSHIP sketch, completing the triad with [[CmsAggExpr]]
  * (frequency) and [[HllAggExpr]] (cardinality). The 100 TB use is the
  * exact-dedup ADMISSION filter: a constant-size bitset over the
  * standing corpus's content hashes answers "definitely new vs maybe
  * seen" for every arriving document without joining the batch against
  * the corpus key set — only the maybe-seen minority (true dups +
  * the measured false-positive floor) pays the exact verification
  * join.
  *
  * State is `m` bits packed into `m/64` longs; `update` sets the k
  * staged bit positions of one row, `merge` is ELEMENTWISE OR —
  * associative, commutative and IDEMPOTENT, so like the HLL (and
  * unlike CMS's additive merge) the sketch is duplicate-insensitive:
  * at-least-once redelivery cannot change it, and a streaming consumer
  * needs no exactly-once fence.
  *
  * The aggregate does NOT hash: its child is the staged `array<bigint>`
  * of k bit positions (md5-prefix folds mod m, the x6/x26/x36 staging
  * family), so the position definition lives in ONE place, inlined
  * identically into the Spark plan and the DuckDB oracle. `eval`
  * returns the packed words; membership is then plain column
  * arithmetic (`(word >> (p % 64)) & 1`).
  *
  * Null child rows are skipped (SQL aggregate convention); a position
  * outside [0, m) fails loudly rather than silently aliasing. */
case class BloomAggExpr(
    child: Expression,
    m: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(m >= 64 && m % 64 == 0, "bloom requires a bit count that packs whole words")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bloom_sketch requires ARRAY<BIGINT> staged bit positions, got ${t.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m / 64)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        // null positions skipped like null rows (SQL convention)
        if (!arr.isNullAt(i)) {
          val p = arr.getLong(i)
          if (p < 0 || p >= m)
            throw new IllegalArgumentException(
              s"bloom_sketch: position $p outside [0, $m) — expected a staged mod-$m fold")
          b((p >>> 6).toInt) |= 1L << (p & 63L)
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) |= o(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(b.length * 8)
    bb.asLongBuffer().put(b)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): BloomAggExpr =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomAggExpr =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): BloomAggExpr =
    copy(child = c)
}
