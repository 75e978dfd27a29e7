package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bloom filter over 64-bit key hashes, as a native aggregate
  * ([[BloomFilterAgg]]) plus a codegen'd membership test
  * ([[BloomMightContain]]).
  *
  * This is the 100 TB shape of "have we seen this key": the filter is a
  * fixed-size bit array that partial-aggregates (per-partition filters
  * OR-merge through the shuffle), so membership against a billion-key
  * "seen" side costs ONE broadcast of m/8 bytes instead of shuffling
  * the probe corpus against it. Bloom answers are one-sided — no false
  * negatives, tunable false-positive rate — so the exact pattern is
  * bloom-prefilter THEN verify survivors with the real join: the
  * prefilter discards the overwhelming majority of probe rows map-side,
  * and the join only ever sees candidates. (Same contract as the
  * reference's per-job "membership file" side-inputs, minus the O(n)
  * per-process hash table.)
  *
  * Layout (serialized AND eval output, so a saved filter is reusable):
  * big-endian [numHashes:int][numWords:int][words:long…]. Bit choice:
  * double hashing h1 + i·h2 (Kirsch–Mitzenmacher) over splitmix64
  * finalizers of the input hash — i.i.d.-enough bits, branch-free, and
  * exactly reproducible by [[BloomUtil.mightContain]] from the header
  * alone.
  */
object BloomUtil {

  /** splitmix64 finalizer — the standard 64-bit avalanche. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Set this key's k bit positions in `words`. */
  def add(words: Array[Long], numHashes: Int, key: Long): Unit = {
    val nBits = words.length.toLong * 64L
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
      words((bit >>> 6).toInt) |= 1L << (bit & 63L)
      i += 1
    }
  }

  /** Membership test against a serialized filter (header + words). */
  def mightContain(bytes: Array[Byte], key: Long): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numHashes = bb.getInt()
    val numWords = bb.getInt()
    val nBits = numWords.toLong * 64L
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
      val w = bb.getLong(8 + (bit >>> 6).toInt * 8)
      if ((w & (1L << (bit & 63L))) == 0L) return false
      i += 1
    }
    true
  }

  def serialize(words: Array[Long], numHashes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numHashes); bb.putInt(words.length)
    words.foreach(bb.putLong)
    bb.array()
  }

  def deserializeWords(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numHashes = bb.getInt()
    val words = Array.fill(bb.getInt())(bb.getLong())
    (numHashes, words)
  }

  /** Optimal m (bits, rounded up to a word) for n items at fpp. */
  def optimalNumBits(n: Long, fpp: Double): Int = {
    require(n > 0 && fpp > 0 && fpp < 1, s"need n>0, 0<fpp<1; got n=$n fpp=$fpp")
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val words = math.max(1L, (m + 63L) / 64L)
    // numBits is an Int: words*64 must not wrap (n ≈ 2·10⁸ at fpp=0.01
    // is the ceiling) — beyond that the filter would silently build ~10×
    // smaller than requested and blow the advertised fpp
    require(words <= (Int.MaxValue / 64).toLong,
      s"filter for n=$n fpp=$fpp needs ${words * 8L} bytes — shard the key space")
    (words * 64L).toInt
  }

  /** Optimal k for m bits / n items. */
  def optimalNumHashes(m: Long, n: Long): Int =
    math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)

  /** (numBits, numHashes) for n keys at fpp — the sizing rule of every
    * filter graft builds. n is floored at 64 and k capped at 32, the
    * [[BloomFilterAgg]] bound: the plain optimum for n = 1 is m = 64,
    * k = 44, which the aggregate rejects. Flooring only over-sizes the
    * filter, which tightens fpp; for n ≥ 64 the geometry is the plain
    * optimum.
    */
  def geometry(n: Long, fpp: Double): (Int, Int) = {
    val floored = math.max(64L, n)
    val m = optimalNumBits(floored, fpp)
    (m, math.min(32, optimalNumHashes(m, floored)))
  }
}

/** Aggregate: bloom filter (binary) of the non-null LONG inputs —
  * feed it `xxhash64(key)`. numBits must be a multiple of 64.
  */
case class BloomFilterAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_agg needs a BIGINT key hash (use xxhash64(key)), got ${child.dataType.sql}")
    else if (numBits <= 0 || numBits % 64 != 0)
      TypeCheckResult.TypeCheckFailure(
        s"numBits must be a positive multiple of 64, got $numBits")
    else if (numHashes <= 0 || numHashes > 32)
      TypeCheckResult.TypeCheckFailure(
        s"numHashes must be in [1,32], got $numHashes")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomUtil.add(buf, numHashes, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomUtil.serialize(buf, numHashes)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomUtil.serialize(buf, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomUtil.deserializeWords(bytes)._2

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = newChildren.head)
}

/** might_contain(filter binary, keyHash long): true if the key MAY be in
  * the filter (no false negatives). Codegen'd — the membership test
  * stays inside WholeStageCodegen on the probe scan, which is the whole
  * point: the prefilter must cost a hash, not a fallback to interpreted
  * eval per row.
  */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains: first arg must be the filter BINARY, got ${left.dataType.sql}")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains: second arg must be a BIGINT key hash, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(f: Any, v: Any): Any =
    BloomUtil.mightContain(f.asInstanceOf[Array[Byte]], v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, v) =>
      s"${ev.value} = graft.functions.BloomUtil.mightContain($f, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** [[BloomMightContain]] against a driver-held filter: the bytes are a
  * field of the expression and ship inside the task closure, so no
  * broadcast and no job carries them. Plans print the filter's
  * geometry, never its bytes — a binary literal would print them as
  * hex in every plan string and in every SQL-execution description the
  * UI listener keeps.
  */
case class HeldBloomContains(child: Expression, filter: Array[Byte])
  extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"held_bloom_contains needs a BIGINT key hash, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    BloomUtil.mightContain(filter, v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("heldBloom", filter, "byte[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BloomUtil.mightContain($f, $v);")
  }

  override def toString: String = {
    val bb = java.nio.ByteBuffer.wrap(filter)
    s"held_bloom_contains(k=${bb.getInt()}, words=${bb.getInt()}, $child)"
  }

  override protected def withNewChildInternal(
      newChild: Expression): HeldBloomContains = copy(child = newChild)
}
