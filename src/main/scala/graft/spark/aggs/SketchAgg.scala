package graft.spark.aggs

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.ext.{Hll, Kll, TDigest}
import graft.hash.Fnv
import SketchOps.stringLongMap

/** The one sketch aggregate: a Catalyst `TypedImperativeAggregate` whose
  * buffer is the live sketch object, driven by a per-family [[SketchOps]].
  *
  *  - partial aggregation keeps one mutable sketch per group per partition
  *    (no per-row serialization, no encoders);
  *  - the buffer crosses the partial→final shuffle as the family's
  *    REFERENCE export bytes — shuffle bytes == checkpoint bytes ==
  *    reference-loadable exports;
  *  - merge is the reference's union/join, associative + commutative, so
  *    partition count and order cannot change the result (law-tested in
  *    NativeParitySpec).
  *
  * A null key (or null value) row is skipped; a null count counts as 1.
  * This is the construction Spark's own approx_count_distinct uses
  * (SURVEY.md §1.3), instantiated with our sketches.
  */
case class SketchAgg[B](
    ops: SketchOps[B],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[B] with ImplicitCastInputTypes {

  // the analyzer casts (or rejects) children, so update() never CCEs on an
  // IntegerType count or a non-string key
  override def inputTypes = ops.inputTypes
  override def nullable: Boolean = ops.nullable
  override def dataType: DataType = ops.dataType
  override def prettyName: String = ops.name

  override def createAggregationBuffer(): B = ops.empty()

  override def update(buffer: B, input: InternalRow): B = {
    val key = children.head.eval(input)
    if (key == null) return buffer
    val count = if (children.length < 2) null else children(1).eval(input)
    ops.update(buffer, key, if (count == null) 1L else count.asInstanceOf[Long])
  }

  override def merge(buffer: B, input: B): B = ops.merge(buffer, input)
  override def eval(buffer: B): Any = ops.eval(buffer)
  override def serialize(buffer: B): Array[Byte] = ops.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): B = ops.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** One sketch family inside [[SketchAgg]]. Every implementation is a case
  * class, so two aggregates with the same family, parameters and name are
  * equal and Catalyst still deduplicates and canonicalizes them. */
abstract class SketchOps[B] extends Serializable {
  /** The aggregate's prettyName: its name in plans and generated column names. */
  def name: String
  def inputTypes: Seq[DataType]
  def dataType: DataType = BinaryType
  def nullable: Boolean = false
  def empty(): B
  /** Adds one row; `key` is never null (a UTF8String, Double or binary). */
  def update(b: B, key: Any, count: Long): B
  def merge(a: B, b: B): B
  /** The reference export format — also the buffer's shuffle form. */
  def toBytes(b: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
  def eval(b: B): Any = toBytes(b)

  /** This aggregate over `cols`, as a DataFrame column. */
  def apply(cols: Column*): Column =
    GraftColumnBridge.column(
      SketchAgg(this, cols.map(GraftColumnBridge.expression)).toAggregateExpression())
}

object SketchOps {
  /** A Catalyst map<string,bigint> value, in `kv` order. */
  private[aggs] def stringLongMap(kv: Seq[(String, Long)]): ArrayBasedMapData =
    ArrayBasedMapData(kv.map(e => UTF8String.fromString(e._1)).toArray, kv.map(_._2).toArray)
}

/** Zero-copy fnv-1a folds straight off the UTF8String bytes: for ASCII keys
  * the byte fold == the reference's codepoint fold, so no java String is
  * materialized per row; non-ASCII keys fall back to the exact codepoint
  * fold. */
private[aggs] object NativeHashes {
  private def isAscii(s: UTF8String): Boolean = {
    var i = 0
    while (i < s.numBytes()) { if (s.getByte(i) < 0) return false; i += 1 }
    true
  }

  private def fold(s: UTF8String, seed: Long): Long = {
    var h = seed
    var j = 0
    while (j < s.numBytes()) { h ^= s.getByte(j); h *= Fnv.Prime64; j += 1 }
    h
  }

  /** `depth` seeded fnv-1a-64 values (the Bloom/CMS/HH grid). */
  def hashesOf(s: UTF8String, depth: Int): Array[Long] = {
    if (!isAscii(s)) return graft.hash.Fnv1aHasher.hashes(s.toString, depth)
    val out = new Array[Long](depth)
    var d = 0
    while (d < depth) { out(d) = fold(s, Fnv.Offset64 + 31L * d); d += 1 }
    out
  }

  /** The single unseeded fnv-1a-64 value HLL registers index by. */
  def hash64(s: UTF8String): Long = {
    var h = Fnv.Offset64
    var i = 0
    while (i < s.numBytes()) {
      val b = s.getByte(i)
      if (b < 0) return Fnv.fnv1a64(s.toString, 0)
      h ^= b; h *= Fnv.Prime64; i += 1
    }
    h
  }
}

// ---- string-keyed families ----

case class BloomOps(estElements: Long, fpr: Double, name: String)
    extends SketchOps[BloomFilter] {
  def inputTypes = Seq(StringType)
  def empty() = BloomFilter.empty(estElements, fpr)
  def update(b: BloomFilter, key: Any, count: Long) = {
    b.addHashes(NativeHashes.hashesOf(key.asInstanceOf[UTF8String], b.numHashes)); b
  }
  def merge(a: BloomFilter, b: BloomFilter) = a.orInPlace(b)
  def toBytes(b: BloomFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = BloomFilter.fromBytes(bytes)
}

/** Weighted counting Bloom over (key, count): negative counts are removals
  * (the reference's remove(), with its own clamping rules). */
case class CbfOps(estElements: Long, fpr: Double, name: String)
    extends SketchOps[CountingBloomFilter] {
  def inputTypes = Seq(StringType, LongType)
  def empty() = CountingBloomFilter.empty(estElements, fpr)
  def update(b: CountingBloomFilter, key: Any, count: Long) = {
    if (count >= 0) b.add(key.toString, count) else b.remove(key.toString, -count); b
  }
  def merge(a: CountingBloomFilter, b: CountingBloomFilter) = a.addInPlace(b)
  def toBytes(b: CountingBloomFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = CountingBloomFilter.fromBytes(bytes)
}

/** Weighted Count-Min over (key, count); negative counts are removals. */
case class CmsOps(width: Int, depth: Int, name: String) extends SketchOps[CountMinSketch] {
  def inputTypes = Seq(StringType, LongType)
  def empty() = CountMinSketch.empty(width, depth, CmsQueryType.Min)
  def update(b: CountMinSketch, key: Any, count: Long) = {
    val hs = NativeHashes.hashesOf(key.asInstanceOf[UTF8String], depth)
    if (count >= 0) b.addHashes(hs, count) else b.removeHashes(hs, -count)
    b
  }
  def merge(a: CountMinSketch, b: CountMinSketch) = a.join(b)
  def toBytes(b: CountMinSketch) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = CountMinSketch.fromBytes(bytes)
}

/** Distributed heavy hitters: per-partition HH (CMS + candidate set), merged
  * via the two-phase candidate-union of SURVEY.md §7.7.1. OUT is the final
  * top-k map<string,bigint>. */
case class HhOps(numHitters: Int, width: Int, depth: Int, name: String)
    extends SketchOps[HeavyHitters] {
  def inputTypes = Seq(StringType, LongType)
  override def dataType = MapType(StringType, LongType, valueContainsNull = false)
  // track extra candidates per partition so the merged top-k is a superset
  // of the exact top-k whenever the per-partition tails don't conspire
  def empty() = HeavyHitters.empty(math.max(numHitters * 4, numHitters + 16), width, depth)
  def update(b: HeavyHitters, key: Any, count: Long) = {
    val s = key.asInstanceOf[UTF8String]
    b.addWithHashes(s.toString, NativeHashes.hashesOf(s, depth), count); b
  }
  def merge(a: HeavyHitters, b: HeavyHitters) = a.merge(b)
  def toBytes(b: HeavyHitters) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = HeavyHitters.fromBytes(bytes)
  override def eval(b: HeavyHitters) =
    stringLongMap(b.heavyHitters.toSeq.sortBy { case (k, v) => (-v, k) }.take(numHitters))
}

case class StreamThresholdOps(threshold: Long, width: Int, depth: Int, name: String)
    extends SketchOps[StreamThreshold] {
  def inputTypes = Seq(StringType, LongType)
  override def dataType = MapType(StringType, LongType, valueContainsNull = false)
  def empty() = StreamThreshold.empty(threshold, width, depth)
  def update(b: StreamThreshold, key: Any, count: Long) = { b.add(key.toString, count); b }
  def merge(a: StreamThreshold, b: StreamThreshold) = a.merge(b)
  def toBytes(b: StreamThreshold) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = StreamThreshold.fromBytes(bytes)
  override def eval(b: StreamThreshold) = stringLongMap(b.meetsThreshold.toSeq)
}

/** The cuckoo byte format omits (expansionRate, autoExpand, fingerprint
  * bits): the ops value carries them for `fromBytes`. */
case class CuckooOps(capacity: Int, bucketSize: Int, fingerprintBits: Int, name: String)
    extends SketchOps[CuckooFilter] {
  def inputTypes = Seq(StringType)
  def empty() = new CuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def update(b: CuckooFilter, key: Any, count: Long) = { b.add(key.toString); b }
  def merge(a: CuckooFilter, b: CuckooFilter) =
    if (a.elementsAdded >= b.elementsAdded) a.mergeFrom(b) else b.mergeFrom(a)
  def toBytes(b: CuckooFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = CuckooFilter.fromBytes(bytes, 2, autoExpand = true, fingerprintBits)
}

case class CountingCuckooOps(capacity: Int, bucketSize: Int, fingerprintBits: Int, name: String)
    extends SketchOps[CountingCuckooFilter] {
  def inputTypes = Seq(StringType)
  def empty() = new CountingCuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def update(b: CountingCuckooFilter, key: Any, count: Long) = { b.add(key.toString); b }
  def merge(a: CountingCuckooFilter, b: CountingCuckooFilter) =
    if (a.insertedElements >= b.insertedElements) a.mergeFrom(b) else b.mergeFrom(a)
  def toBytes(b: CountingCuckooFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) =
    CountingCuckooFilter.fromBytes(bytes, 2, autoExpand = true, fingerprintBits)
}

case class QuotientFilterOps(quotient: Int, name: String) extends SketchOps[QuotientFilter] {
  def inputTypes = Seq(StringType)
  def empty() = QuotientFilter(quotient, autoExpand = true)
  def update(b: QuotientFilter, key: Any, count: Long) = { b.add(key.toString); b }
  def merge(a: QuotientFilter, b: QuotientFilter) =
    if (a.elementsAdded >= b.elementsAdded) { a.merge(b); a } else { b.merge(a); b }
  def toBytes(b: QuotientFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = QuotientFilter.fromBytes(bytes)
}

/** Expanding Bloom built with force=true adds (the commutative mode,
  * SURVEY.md §7.7.1); merge concatenates sub-bloom lists. */
case class EbfOps(estElements: Long, fpr: Double, name: String)
    extends SketchOps[ExpandingBloomFilter] {
  def inputTypes = Seq(StringType)
  def empty() = ExpandingBloomFilter(estElements, fpr)
  def update(b: ExpandingBloomFilter, key: Any, count: Long) = { b.add(key.toString, force = true); b }
  def merge(a: ExpandingBloomFilter, b: ExpandingBloomFilter) = a.mergeFrom(b)
  def toBytes(b: ExpandingBloomFilter) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = ExpandingBloomFilter.fromBytes(bytes)
}

/** HLL over strings; `count` evaluates to the Long estimate instead of the
  * sketch bytes (the "distinct count" shape). */
case class HllOps(p: Int, count: Boolean, name: String) extends SketchOps[Hll] {
  def inputTypes = Seq(StringType)
  override def dataType = if (count) LongType else BinaryType
  def empty() = Hll(p)
  def update(b: Hll, key: Any, n: Long) = {
    b.addHash64(NativeHashes.hash64(key.asInstanceOf[UTF8String])); b
  }
  def merge(a: Hll, b: Hll) = a.merge(b)
  def toBytes(b: Hll) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = Hll.fromBytes(bytes)
  override def eval(b: Hll) = if (count) b.estimate else b.toBytes
}

// ---- double-valued families ----

/** KLL over a double column. With `percentages` it evaluates to the
  * quantile(s) instead of the sketch bytes — the target shape of the
  * percentile_approx -> KLL rewrite — and to null on empty input
  * (percentile_approx parity). */
case class KllOps(k: Int, name: String, percentages: Seq[Double] = Nil, asArray: Boolean = false)
    extends SketchOps[Kll] {
  def inputTypes = Seq(DoubleType)
  override def dataType =
    if (percentages.isEmpty) BinaryType
    else if (asArray) ArrayType(DoubleType, containsNull = false)
    else DoubleType
  override def nullable = percentages.nonEmpty
  def empty() = Kll(k)
  def update(b: Kll, v: Any, count: Long) = { b.update(v.asInstanceOf[Double]); b }
  def merge(a: Kll, b: Kll) = a.merge(b)
  def toBytes(b: Kll) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = Kll.fromBytes(bytes)
  override def eval(b: Kll) =
    if (percentages.isEmpty) b.toBytes
    else if (b.n == 0) null
    else if (asArray) ArrayData.toArrayData(percentages.map(b.quantile).toArray)
    else b.quantile(percentages.head)
}

case class TDigestOps(compression: Double, name: String) extends SketchOps[TDigest] {
  def inputTypes = Seq(DoubleType)
  def empty() = TDigest(compression)
  def update(b: TDigest, v: Any, count: Long) = { b.update(v.asInstanceOf[Double]); b }
  def merge(a: TDigest, b: TDigest) = a.merge(b)
  def toBytes(b: TDigest) = b.toBytes
  def fromBytes(bytes: Array[Byte]) = TDigest.fromBytes(bytes)
}

// ---- merge: a column of serialized sketches -> one sketch ----

/** Folds a column of serialized `of`-family sketches into one: the second
  * level of salted aggregation and the reducer of checkpoint tables. Only
  * `of`'s merge and byte codec are used. Null rows are skipped and empty
  * input evaluates to null; the empty buffer crosses the shuffle as zero
  * bytes. */
case class UnionOps[B](of: SketchOps[B], name: String) extends SketchOps[B] {
  def inputTypes = Seq(BinaryType)
  override def nullable = true
  def empty(): B = null.asInstanceOf[B]
  def update(b: B, bytes: Any, count: Long): B =
    merge(b, of.fromBytes(bytes.asInstanceOf[Array[Byte]]))
  def merge(a: B, b: B): B = if (a == null) b else if (b == null) a else of.merge(a, b)
  def toBytes(b: B): Array[Byte] = if (b == null) Array.emptyByteArray else of.toBytes(b)
  def fromBytes(bytes: Array[Byte]): B = if (bytes.isEmpty) empty() else of.fromBytes(bytes)
  override def eval(b: B): Any = if (b == null) null else of.toBytes(b)
}
