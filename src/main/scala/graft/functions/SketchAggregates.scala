package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graft.GraftColumns
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Misra-Gries heavy-hitters summary as a native mergeable aggregate
  * (TypedImperativeAggregate): `misra_gries(col, k)` returns a
  * map<key,long> of at most k candidate keys with residual counts.
  *
  * Contracts (Misra & Gries '82; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS'12 — combine counts, then subtract the
  * (k+1)-th largest count from all and drop non-positives):
  *   - every key with true frequency > n/(k+1) IS in the map (zero false
  *     negatives above the threshold — the property heavy-hitter
  *     pipelines rely on);
  *   - for every key in the map:  true − n/(k+1) ≤ count ≤ true.
  * The summary is a CANDIDATE set: callers verify with one exact counting
  * pass over the candidates (see the `text_heavy_tokens` query) — the
  * classic two-scan pattern that finds frequent keys without ever
  * shuffling the full distinct-key domain (a groupBy over 100 TB of
  * tokens shuffles billions of distinct grams; the sketch ships k
  * counters per partition).
  *
  * Key types: STRING and integral (stored as the evaluated Long/Int).
  * UTF8String keys are CLONED on first insert — the row buffer backing an
  * evaluated UTF8String is reused by the scanner.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, Long]] with UnaryLike[Expression] {

  require(k >= 1, "misra_gries needs k >= 1")

  override def prettyName: String = "graft_misra_gries"
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(child.dataType, LongType, valueContainsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] = mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Any, Long], input: InternalRow): mutable.HashMap[Any, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    buf.get(v) match {
      case Some(c) => buf(v) = c + 1
      case None if buf.size < k =>
        val key = v match { case s: UTF8String => s.clone(); case other => other }
        buf(key) = 1L
      case None =>
        // decrement-all: consumes one count from k+1 distinct keys at once
        // — amortized O(1) per input since each decrement retires k+1
        // prior increments
        val dead = mutable.ArrayBuffer.empty[Any]
        buf.foreach { case (key, c) => if (c == 1L) dead += key else buf(key) = c - 1 }
        dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(b1: mutable.HashMap[Any, Long], b2: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    b2.foreach { case (key, c) => b1(key) = b1.getOrElse(key, 0L) + c }
    if (b1.size <= k) b1
    else {
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(b1.size - (k + 1)) // (k+1)-th largest
      val kept = b1.iterator.collect { case (key, c) if c > cut => key -> (c - cut) }
      mutable.HashMap.from(kept)
    }
  }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    // deterministic key order in the emitted map (callers explode it; a
    // stable order keeps plans and tests replay-identical)
    val entries = buf.toArray.sortBy {
      case (s: UTF8String, _) => s.toString
      case (l: java.lang.Long, _) => f"$l%020d"
      case (i: java.lang.Integer, _) => f"${i.longValue()}%020d"
      case (other, _) => String.valueOf(other)
    }
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(_._1)),
      new GenericArrayData(entries.map(_._2)))
  }

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) =>
      key match {
        case s: UTF8String =>
          val b = s.getBytes; out.writeInt(b.length); out.write(b)
        case l: java.lang.Long => out.writeLong(l)
        case i: java.lang.Integer => out.writeInt(i)
        case other => throw new IllegalStateException(s"unsupported MG key: ${other.getClass}")
      }
      out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[Any, Long]
    var i = 0
    while (i < n) {
      val key: Any = child.dataType match {
        case StringType =>
          val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
          UTF8String.fromBytes(b)
        case LongType => java.lang.Long.valueOf(in.readLong())
        case IntegerType => java.lang.Integer.valueOf(in.readInt())
        case other => throw new IllegalStateException(s"unsupported MG key type: $other")
      }
      buf(key) = in.readLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

/** KMV (k-minimum-values) distinct-value sketch as a native mergeable
  * aggregate (Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations", SIGMOD'07): keep the k smallest hash
  * values seen; the k-th smallest, as a fraction of the hash space,
  * estimates the distinct count as D̂ = (k−1)/U₍k₎.
  *
  * What this buys over `approx_count_distinct` (HLL): the sketch is a
  * uniform SAMPLE of the distinct domain, so sketches built
  * independently over different sets COMPOSE — union (k smallest of the
  * merged arrays), Jaccard (|K(A∪B) ∩ A ∩ B| / |K(A∪B)|), and from
  * those, intersection cardinality — the cross-crawl / cross-snapshot
  * overlap questions a corpus pipeline asks, WITHOUT co-shuffling the
  * two sides (an exact distinct-overlap is a shuffle of both key sets;
  * the sketch ships k longs per partition, one pass each side, and the
  * set algebra runs on the driver-sized arrays). HLL sketches cannot
  * intersect. Spark-side set ops are plain array functions over the
  * emitted arrays — see [[SketchAggregates.kmvUnion]] etc.
  *
  * The child must be the 64-bit hash already (callers wrap the key in
  * `xxhash64` — codegen'd, type-flexible); values are stored
  * SIGN-FLIPPED (h ^ Long.MinValue) so signed ordering = unsigned hash
  * ordering, and emitted ascending. Below k distinct hashes the sketch
  * IS the distinct hash set — estimates become exact (no collisions).
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] with UnaryLike[Expression] {

  require(k >= 8, "kmv_sketch needs k >= 8")

  override def prettyName: String = "graft_kmv_sketch"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): mutable.TreeSet[Long] = mutable.TreeSet.empty

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val h = v.asInstanceOf[Long] ^ Long.MinValue
    if (buf.size < k) buf += h
    else if (h < buf.last && !buf.contains(h)) { buf += h; buf -= buf.last }
    buf
  }

  override def merge(b1: mutable.TreeSet[Long], b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    b1 ++= b2
    while (b1.size > k) b1 -= b1.last
    b1
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[Long]
    var i = 0
    while (i < n) { buf += in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

object SketchAggregates {
  /** Heavy-hitter candidate map (≤ k entries) — see [[MisraGries]]. */
  def misraGries(c: Column, k: Int): Column =
    GraftColumns.column(MisraGries(GraftColumns.expression(c), k).toAggregateExpression())

  import org.apache.spark.sql.functions._

  /** KMV sketch of the distinct values of `c` — ascending array of the
    * k smallest sign-flipped XXH64 hashes. NULLs are skipped (COUNT
    * DISTINCT convention) — `xxhash64` alone would fold them to its
    * seed, a spurious constant "value", so the hash is null-gated. */
  def kmvSketch(c: Column, k: Int): Column =
    GraftColumns.column(
      KmvSketch(GraftColumns.expression(when(c.isNotNull, xxhash64(c))), k)
        .toAggregateExpression())

  /** Normalized position of flipped hash `h` in [0,1). */
  private def frac(h: Column): Column =
    h.cast("double") / lit(2.0) / lit(Long.MaxValue.toDouble) + lit(0.5)

  /** Distinct-count estimate from a KMV sketch: exact cardinality below
    * k (the sketch is the whole distinct hash set), else (k−1)/U₍k₎. */
  def kmvEstimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit(k - 1.0) / frac(element_at(sk, k)))

  /** Sketch of A ∪ B: the k smallest of the two sketches' union — the
    * closure property that makes KMV sketches compose. */
  def kmvUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** |A ∩ B| estimate: ρ·D̂(A∪B) with ρ = |K(A∪B) ∩ A ∩ B| / |K(A∪B)|
    * (Beyer et al. §4) — exact when the union sketch is unsaturated. */
  def kmvIntersectEstimate(a: Column, b: Column, k: Int): Column = {
    val u = kmvUnion(a, b, k)
    val rho = size(array_intersect(array_intersect(u, a), b)).cast("double") /
      size(u).cast("double")
    rho * kmvEstimate(u, k)
  }
}
