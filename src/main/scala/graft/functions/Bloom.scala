package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter over a string column — the set-MEMBERSHIP member of the
  * sketch-aggregate tier ([[KmvDistinct]] = distinct count, [[VecMean]] =
  * vector mean, [[CmsSketch]] = item frequency, this = membership). The
  * at-scale use is join-free decontamination: a benchmark's n-gram set
  * compresses to `m` bits that BROADCAST to every executor, so probing
  * 100 TB of corpus n-grams is a map-only scan — no shuffle of corpus
  * keys at all, where even the hashed-join tier moves 8 bytes per n-gram.
  * Membership is one-sided: `false` is certain, `true` is wrong only on
  * collisions (fp ≈ (1−e^{−k·n/m})^k).
  *
  * Bit positions use the repo's cross-engine md5 recipe
  * ([[graft.operators.Splits.bucketOfKey]]): first 8 hex chars of
  * `md5("bf<j>_<item>")` as a long, mod `mBits`, for hash rows
  * j = 0..k−1 — so a DuckDB oracle reproduces the EXACT bit set and the
  * driver gate hash-matches probe verdicts including false positives
  * (no tolerance, no planted twin).
  */
object Bloom {
  /** Bit index of `item` under hash row `j` — shared verbatim with the
    * SQL oracle: ('0x' || substr(md5('bf<j>_<item>'),1,8))::BIGINT % m. */
  def bitOf(j: Int, item: UTF8String, mBits: Int): Int =
    (Md5Cell.of("bf", j, item) % mBits).toInt

  private def checkWords(words: ArrayData, mBits: Int): Unit =
    require(words.numElements() == (mBits + 63) / 64,
      s"bloom_contains: filter has ${words.numElements()} words, " +
        s"expected ${(mBits + 63) / 64} — mBits must match the build")

  /** Codegen target for the string tier. */
  def containsStr(words: ArrayData, item: UTF8String,
      mBits: Int, k: Int): Boolean = {
    checkWords(words, mBits)
    var j = 0
    while (j < k) {
      val bit = bitOf(j, item, mBits)
      if ((words.getLong(bit >>> 6) & (1L << (bit & 63))) == 0L)
        return false
      j += 1
    }
    true
  }

  /** Codegen target for the long tier. */
  def containsLong(words: ArrayData, h: Long, mBits: Int, k: Int): Boolean = {
    checkWords(words, mBits)
    var j = 0
    while (j < k) {
      val bit = BloomLong.bitOf(j, h, mBits)
      if ((words.getLong(bit >>> 6) & (1L << (bit & 63))) == 0L)
        return false
      j += 1
    }
    true
  }
}

/** Bit positions for the LONG-keyed Bloom tier ([[BloomAggLong]]):
  * input is already a 64-bit hash (the native `ngram_hashes` kernel),
  * so rehashing through md5 strings would re-pay the cost the tier
  * exists to avoid. Each row j remixes the hash with the murmur3
  * finalizer (public-domain avalanche constants) over a
  * golden-ratio row salt — pure long arithmetic, no allocation. */
object BloomLong {
  def bitOf(j: Int, h: Long, mBits: Int): Int = {
    var x = h ^ (0x9E3779B97F4A7C15L * (j + 1))
    x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL
    x ^= (x >>> 33); x *= 0xC4CEB9FE1A85EC53L
    x ^= (x >>> 33)
    ((x & Long.MaxValue) % mBits).toInt
  }
}

/** bloom_agg(item, mBits, k): aggregate → array<long> of ⌈mBits/64⌉
  * words (little-endian bit order within each word). `item` may be a
  * string (md5 bit recipe — the cross-engine oracle form) or an
  * already-64-bit hash (long — the no-strings-materialized scale tier,
  * [[BloomLong]]). */
case class BloomAgg(child: Expression, mBits: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(mBits > 0, s"bloom_agg mBits must be positive, got $mBits")
  require(k > 0, s"bloom_agg k must be positive, got $k")

  override def prettyName: String = "bloom_agg"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bloom_agg expects string or bigint, got ${t.catalogString}")
    }

  // children are unresolved at construction when built from the SQL
  // registry — dataType must not be touched until eval time
  private lazy val longKeyed = child.dataType == LongType

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long]((mBits + 63) / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var j = 0
      while (j < k) {
        val bit =
          if (longKeyed) BloomLong.bitOf(j, v.asInstanceOf[Long], mBits)
          else Bloom.bitOf(j, v.asInstanceOf[UTF8String], mBits)
        buf(bit >>> 6) |= (1L << (bit & 63))
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
}

/** bloom_contains(filter, item, mBits, k): true iff all k bit positions
  * of `item` are set. One-sided: false is certain non-membership. The
  * item type (string vs long) must match what the filter was built
  * from — the two tiers use different bit recipes. */
case class BloomContains(left: Expression, right: Expression,
    mBits: Int, k: Int)
    extends BinaryExpression {
  require(mBits > 0 && k > 0, "bloom_contains needs positive mBits/k")
  override def prettyName: String = "bloom_contains"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), StringType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects (array<bigint>, string|bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  private lazy val longKeyed = right.dataType == LongType

  override def nullSafeEval(f: Any, item: Any): Any = {
    val words = f.asInstanceOf[ArrayData]
    if (longKeyed) Bloom.containsLong(words, item.asInstanceOf[Long],
      mBits, k)
    else Bloom.containsStr(words, item.asInstanceOf[UTF8String], mBits, k)
  }

  // native codegen: a CodegenFallback here forced the ENTIRE probe
  // projection + aggregate input into interpreted eval — the dominant
  // cost of the broadcast-probe scan (drill: 28× linear but ~8 s/SF)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val fn = if (longKeyed) "containsLong" else "containsStr"
    nullSafeCodeGen(ctx, ev, (f, item) =>
      s"${ev.value} = graft.functions.Bloom.$fn($f, $item, $mBits, $k);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}
