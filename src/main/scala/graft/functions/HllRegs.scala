package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** HyperLogLog (Flajolet et al. 2007) over the engine's portable
  * 60-bit md5-prefix hash domain, with 2^b one-byte registers
  * (b ∈ [4, 12]). Three SQL functions share this one sketch:
  *
  *  - `hll_agg(h, b)`: hashes → the exact-integer register sum S;
  *  - `hll_regs(h, b)`: hashes → the register array itself;
  *  - `hll_union(regs, b)`: register arrays → S of their union.
  *
  * Register update: bucket = h mod 2^b, w = h div 2^b (a 60−b bit
  * value), rho(w) = leading-zero count of w within its 60−b bit field
  * + 1 (w = 0 → 60−b+1); register j keeps max rho. State is 2^b BYTES
  * — constant, associative, commutative, map-side combinable: the
  * shuffle carries 2^b bytes per group at ANY cardinality (vs KMV's
  * k longs, vs exact distinct's one row per value).
  *
  * Determinism: S = Σ_j 2^(maxrho − r_j) (maxrho = 60 − b + 1; empty
  * registers contribute 2^maxrho) is a sum of 2^b powers of two
  * ≤ 2^61, exact in a BIGINT and exactly reproducible by the oracle's
  * GROUP BY/max replay, putting the sketch itself under the hash-match
  * gate (like KMV, unlike a float-summed HLL). The classic estimate is
  * the pure function `E = alpha_m · m² · 2^maxrho / S`, computed
  * OUTSIDE the sketch by one double division of exact integers
  * (identical IEEE sequence in both engines). The small-range
  * linear-counting correction is intentionally omitted: it needs ln(),
  * whose cross-engine bit equality is not guaranteed — callers below
  * ~5/2·m distinct should use exact counting anyway.
  *
  * Register max is associative/commutative/idempotent, so
  * union-of-sketches ≡ sketch-of-union, bit for bit. That makes HLL a
  * DATA ENGINEERING primitive rather than a query function: land
  * per-partition `hll_regs` once (per source, per day, per shard),
  * then answer ANY rollup with `hll_union` by merging 2^b-byte rows,
  * never rescanning the corpus.
  */
abstract class HllSketch extends TypedImperativeAggregate[Array[Byte]] {
  def child: Expression
  def b: Int

  protected val m: Int = 1 << b
  protected val maxRho: Int = 60 - b + 1

  /** What `child` must produce: hashes or register arrays. */
  protected def inputType: DataType
  /** Fold one non-null input value into the registers. */
  protected def add(buf: Array[Byte], v: Any): Unit

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (b < 4 || b > 12) TypeCheckResult.TypeCheckFailure(
      s"$prettyName b must be in [4, 12], got $b")
    else if (child.dataType == inputType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${inputType.sql} input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) add(buf, v)
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var j = 0
    while (j < m) { if (other(j) > buf(j)) buf(j) = other(j); j += 1 }
    buf
  }

  /** The exact-integer register sum S. */
  protected def registerSum(buf: Array[Byte]): Long = {
    var s = 0L
    var j = 0
    while (j < m) { s += 1L << (maxRho - buf(j)); j += 1 }
    s
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
}

/** `hll_regs(h, b)` (the register array) or, with `sum`, `hll_agg(h, b)`
  * (the register sum S): the sketch over a BIGINT hash column. */
case class HllRegs(
    child: Expression,
    b: Int,
    sum: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HllSketch {

  override protected def inputType: DataType = LongType
  override def dataType: DataType = if (sum) LongType else BinaryType
  override def prettyName: String = if (sum) "hll_agg" else "hll_regs"

  override protected def add(buf: Array[Byte], v: Any): Unit = {
    val h = v.asInstanceOf[Long]
    require(h >= 0 && h < (1L << 60),
      s"$prettyName expects hashes in [0, 2^60), got $h — feed the engine's " +
        "60-bit md5-prefix hashes")
    val j = (h & (m - 1)).toInt
    val w = h >>> b
    val rho = if (w == 0) maxRho else 60 - b - (63 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > buf(j)) buf(j) = rho.toByte
  }

  override def eval(buf: Array[Byte]): Any = if (sum) registerSum(buf) else buf.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegs =
    copy(child = newChildren.head)
}

/** `hll_union(regs, b)` — fold `hll_regs` register arrays by
  * element-wise max and evaluate the exact-integer S, so merged
  * rollups sit under the same hash-match gate as direct sketches. */
case class HllUnion(
    child: Expression,
    b: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HllSketch {

  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_union"

  override protected def add(buf: Array[Byte], v: Any): Unit = {
    val regs = v.asInstanceOf[Array[Byte]]
    require(regs.length == m,
      s"hll_union expects 2^$b registers, got ${regs.length} — the b " +
        "argument must match the hll_regs that built the sketch")
    merge(buf, regs)
  }

  override def eval(buf: Array[Byte]): Any = registerSum(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllUnion =
    copy(child = newChildren.head)
}
